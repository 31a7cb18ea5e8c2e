"""The one skip the golden suites share: a test that reads the
reference's committed testdata skips, with one reason, when that tree
is absent. Tests that build their input inline carry no mark."""

import os

import pytest

REASON = "reference testdata not present"


def needs_testdata(path: str):
    """Mark for a test that reads ``path`` in the reference tree."""
    return pytest.mark.skipif(not os.path.isdir(path), reason=REASON)
