"""Deterministic synthetic data generation (FIXTURES.md F1/F5).

Every generated value is a pure function of ``(seed, row_id, field)``
via splitmix64-style integer hashing — no stateful RNG — so output is
byte-identical regardless of chunking/partitioning. That makes goldens
stable and guarantees the bench inputs at two parallelism levels are
the same bytes.

The ``pages`` table mirrors the BASELINE.json input_hint:
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)``.  ``text`` embeds an Apache combined-log fragment, k=v
pairs and a JSON fragment so one table exercises the regex/grok,
keyvalue and json parsers; ~2% of rows are malformed prose to
exercise on_error/refused-counter semantics
(pkg/stanza/operator/helper/transformer.go:148-156).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
N_HOSTS = 1000
EPOCH_START = np.datetime64("2024-03-01T00:00:00", "us")
DAY_US = 86_400_000_000

LANGS = np.array(["en", "de", "fr", "zh", "es", "pt", "ru", "ja", "it", "nl"])
LANG_P = np.array([0.42, 0.11, 0.09, 0.09, 0.08, 0.06, 0.05, 0.04, 0.03, 0.03])

METHODS = np.array(["GET", "POST", "PUT", "DELETE", "HEAD"])
METHOD_P = np.array([0.68, 0.18, 0.06, 0.04, 0.04])

STATUSES = np.array([200, 201, 204, 301, 302, 304, 400, 401, 403, 404, 429, 500, 502, 503])
STATUS_P = np.array([0.55, 0.04, 0.03, 0.03, 0.04, 0.05, 0.05, 0.03, 0.02, 0.08, 0.02, 0.03, 0.02, 0.01])

PATH_PREFIXES = np.array(
    ["/api/v1/users", "/api/v1/orders", "/api/v2/search", "/health", "/static/js",
     "/static/css", "/img", "/login", "/admin/panel", "/docs", "/blog/post", "/checkout"]
)
SERVICES = np.array(["frontend", "cart", "auth", "search", "billing", "cdn"])
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _mix(row_id: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """splitmix64 finalizer over (row_id, salt, seed) -> uint64."""
    offset = (salt * 0x9E3779B97F4A7C15 + seed * 0xBF58476D1CE4E5B9) % (1 << 64)
    z = row_id.astype(np.uint64) + np.uint64(offset)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _uniform(row_id: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """Uniform float64 in [0, 1)."""
    return (_mix(row_id, salt, seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _choice_p(row_id: np.ndarray, salt: int, seed: int,
              values: np.ndarray, p: np.ndarray) -> np.ndarray:
    cdf = np.cumsum(p) / p.sum()
    return values[np.searchsorted(cdf, _uniform(row_id, salt, seed), side="right")]


def _randint(row_id: np.ndarray, salt: int, seed: int, lo: int, hi: int) -> np.ndarray:
    return (lo + _mix(row_id, salt, seed) % np.uint64(hi - lo)).astype(np.int64)


def _hosts() -> np.ndarray:
    """~1000 synthetic domains; index 0..N-1, Zipf-ranked (host000 hottest)."""
    tlds = np.array(["com", "org", "net", "io", "dev"])
    idx = np.arange(N_HOSTS)
    return np.char.add(
        np.char.add("host", np.char.zfill(idx.astype(str), 3)),
        np.char.add(".example.", tlds[idx % len(tlds)]),
    )


HOSTS = _hosts()
_ZIPF_P = 1.0 / np.arange(1, N_HOSTS + 1) ** 1.2
_ZIPF_P /= _ZIPF_P.sum()


def gen_pages_pdf(n: int, seed: int = SEED, chunk_start: int = 0,
                  total_rows: int | None = None) -> pd.DataFrame:
    """Generate pages rows [chunk_start, chunk_start+n); chunk-invariant.

    ``total_rows`` fixes the timestamp spread (rows span 24h over the
    full dataset); defaults to chunk_start + n.
    """
    row_id = np.arange(chunk_start, chunk_start + n, dtype=np.int64)
    total = total_rows if total_rows is not None else chunk_start + n

    host_idx = np.searchsorted(np.cumsum(_ZIPF_P), _uniform(row_id, 1, seed), side="right")
    host = HOSTS[host_idx]
    path_i = _randint(row_id, 2, seed, 0, len(PATH_PREFIXES))
    path = np.char.add(
        np.char.add(PATH_PREFIXES[path_i].astype(str), "/"),
        (row_id % 99971).astype(str),
    )
    url = np.char.add(np.char.add("https://", host.astype(str)), path)

    # warc_ts: monotone-ish over 24h with jitter -> some out-of-order rows
    base_us = row_id * (DAY_US // max(total, 1000))
    jitter = _randint(row_id, 3, seed, -5_000_000, 5_000_000)
    warc_ts = EPOCH_START + (base_us + jitter).astype("timedelta64[us]")

    method = _choice_p(row_id, 4, seed, METHODS, METHOD_P)
    status = _choice_p(row_id, 5, seed, STATUSES, STATUS_P)
    nbytes = _randint(row_id, 6, seed, 64, 65536)
    # gamma(2, 30)-ish latency: sum of two exponentials, one decimal
    u1 = np.clip(_uniform(row_id, 7, seed), 1e-12, 1)
    u2 = np.clip(_uniform(row_id, 8, seed), 1e-12, 1)
    dur_ms = np.round(-30.0 * (np.log(u1) + np.log(u2)), 1)
    ip = (
        pd.Series(_randint(row_id, 9, seed, 1, 254)).astype(str)
        + "." + pd.Series(host_idx % 254 + 1).astype(str)
        + "." + pd.Series(_randint(row_id, 10, seed, 0, 254)).astype(str)
        + "." + pd.Series(_randint(row_id, 11, seed, 1, 254)).astype(str)
    )
    svc = SERVICES[_randint(row_id, 12, seed, 0, len(SERVICES))]
    cache = np.where(_uniform(row_id, 13, seed) < 0.35, "hit", "miss")
    req_id = pd.Series(row_id).map(lambda r: f"req-{r:010d}")
    lang = _choice_p(row_id, 14, seed, LANGS, LANG_P)

    # Apache CLF timestamp [dd/Mon/yyyy:HH:MM:SS +0000] derived from warc_ts
    ts_pd = pd.Series(warc_ts)
    clf_ts = (
        ts_pd.dt.day.astype(str).str.zfill(2)
        + "/" + ts_pd.dt.month.map(lambda m: MONTHS[m - 1])
        + "/" + ts_pd.dt.year.astype(str)
        + ":" + ts_pd.dt.hour.astype(str).str.zfill(2)
        + ":" + ts_pd.dt.minute.astype(str).str.zfill(2)
        + ":" + ts_pd.dt.second.astype(str).str.zfill(2)
        + " +0000"
    )

    text = (
        ip + " - user" + pd.Series(row_id % 500).astype(str)
        + " [" + clf_ts + "] \""
        + pd.Series(method) + " " + pd.Series(path) + " HTTP/1.1\" "
        + pd.Series(status).astype(str) + " " + pd.Series(nbytes).astype(str)
        + " req_id=" + req_id + " cache=" + pd.Series(cache)
        + " svc=" + pd.Series(svc)
        + " {\"svc\": \"" + pd.Series(svc) + "\", \"dur_ms\": "
        + pd.Series(dur_ms).map(lambda d: f"{d:.1f}") + "}"
    )
    # ~2% malformed rows: prose with no log fragment (parse must fail)
    malformed = _uniform(row_id, 15, seed) < 0.02
    prose = "lorem ipsum dolor page body with no structured fragment id " + pd.Series(
        row_id
    ).astype(str)
    text = text.where(~malformed, prose)

    html = ("<html><head><title>p" + pd.Series(row_id).astype(str) + "</title></head><body><p>"
            + text + "</p></body></html>").str.encode("utf-8")

    return pd.DataFrame(
        {
            "url": pd.Series(url, dtype="str"),
            "warc_ts": ts_pd,
            "html": html,
            "text": text.astype("str"),
            "lang": pd.Series(lang, dtype="str"),
        }
    )


def write_pages(path: str, n: int, seed: int = SEED,
                chunk_rows: int = 250_000, partitions: int | None = None) -> str:
    """Write the pages table as parquet (chunked, deterministic bytes
    regardless of ``partitions`` — values depend only on row_id)."""
    os.makedirs(path, exist_ok=True)
    if partitions:
        chunk_rows = max(1, -(-n // partitions))
    written = 0
    file_i = 0
    while written < n:
        m = min(chunk_rows, n - written)
        pdf = gen_pages_pdf(m, seed=seed, chunk_start=written, total_rows=n)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{file_i:05d}.parquet"),
                       compression="zstd")
        written += m
        file_i += 1
    return path


def gen_host_meta() -> pd.DataFrame:
    """F5 lookup: host -> site metadata (broadcast-join build side,
    analog of the k8sattributes informer map,
    processor/k8sattributesprocessor/processor.go:141-202)."""
    cats = np.array(["news", "shop", "social", "docs", "video", "blog"])
    idx = np.arange(N_HOSTS)
    return pd.DataFrame(
        {
            "host": HOSTS,
            "site_category": cats[idx % len(cats)],
            "owner": np.char.add("org-", (idx % 50).astype(str)),
        }
    )


def gen_lang_family() -> pd.DataFrame:
    fam = {
        "en": "germanic", "de": "germanic", "nl": "germanic",
        "fr": "romance", "es": "romance", "pt": "romance", "it": "romance",
        "ru": "slavic", "zh": "sinitic", "ja": "japonic",
    }
    return pd.DataFrame({"lang": list(fam), "family": list(fam.values())})
