"""Dedup family (exact / minhash-LSH / simhash / n-gram Jaccard /
embedding near-dup), similarity search, text stats, multimodal stubs."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import dedup
from opentelemetry_collector_contrib_spark.operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_from_shingles,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    with_shingles,
    with_simhash,
)
from opentelemetry_collector_contrib_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_join,
    ivf_assign,
    ivf_topk,
)
from opentelemetry_collector_contrib_spark.operators.textstats import (
    fingerprint_md5,
    lang_id_expr,
    quality_score_expr,
    token_count_ws,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "to the green forest near the old river bank")
    rows = [
        (0, base),
        (1, base),                                    # exact dup of 0
        (2, base.replace("quick", "speedy")),         # near dup of 0
        (3, "completely different text about spark sql engines and "
            "distributed query processing at large scale today"),
        (4, "der hund und die katze sind und bleiben gute freunde und das ist gut"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # doc 1 collapsed into 0
    assert 1 not in out
    assert out[3] == 1


def test_exact_dedup_collision_safe_same_result(spark, docs):
    """collision_safe adds the md5 key to the grouping: identical
    output on collision-free data, same schema."""
    a = sorted(map(tuple, exact_dedup(docs).collect()))
    b = sorted(map(tuple, exact_dedup(docs, collision_safe=True).collect()))
    assert a == b
    assert exact_dedup(docs, collision_safe=True).columns == \
        ["doc_id", "dup_count"]


def test_minhash_signature_entries_differ(spark, docs):
    """Regression: each of the 16 permutations must use a distinct seed
    (a 2-arg lambda would bind the seed to the array index)."""
    sig = (with_shingles(docs.select("doc_id", "text"), "text")
           .withColumn("sig", minhash_from_shingles(F.col("_ng")))
           .select("sig").first()["sig"])
    assert len(set(sig)) > 8


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup -> identical signature
    assert (0, 3) not in pairs           # unrelated text
    near = [p for p in pairs if p in ((0, 2), (1, 2))]
    assert near, pairs                   # near-dup caught by some band


def test_simhash_near_dups(spark, docs):
    sh = {r["doc_id"]: r["simhash"]
          for r in with_simhash(docs, "text").collect()}
    assert sh[0] == sh[1]
    mask = (1 << 64) - 1
    ham = lambda a, b: bin((a ^ b) & mask).count("1")  # noqa: E731
    # one-word edit on a ~20-token doc flips many bits (each bit's sign
    # sum is near 0); the invariant is relative: closer text -> smaller
    # hamming distance
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5,
                                          allow_cross_join=True).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] > 0.5
    assert (0, 3) not in pairs


def test_ngram_jaccard_requires_candidate_bounding(spark, docs):
    """Unblocked all-pairs Jaccard is a cartesian product: the API must
    refuse it unless explicitly allowed (scale guard)."""
    with pytest.raises(ValueError, match="cartesian"):
        ngram_jaccard_pairs(docs, threshold=0.5)


def test_ngram_jaccard_candidates_verifier(spark, docs):
    """LSH-candidate feed: exact Jaccard verifies only the given pairs."""
    cand = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, threshold=0.5,
                                        candidates=cand).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) not in out      # not a candidate, never scored
    assert (0, 3) not in out      # candidate but below threshold


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),     # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.2, 0.0]),     # near 2
        (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite of 0
        (5, [0.0, 0.0, 1.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    out = brute_force_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3)
    ids = [r["vec_id"] for r in out.collect()]
    assert ids[0] == 0 and ids[1] == 1
    assert 4 not in ids


def test_brute_force_topk_join(spark, vectors):
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "query_id long, embedding array<float>")
    out = brute_force_topk_join(vectors, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert by_q[100] == [0, 1]
    assert by_q[200] == [2, 3]


def test_gopher_quality_flags(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import (
        gopher_quality_flags)
    good = ("the quick brown fox jumps over a lazy dog and keeps "
            "running through the field of green grass to reach it ") * 5
    bad = "# ## ### #### ..."
    df = spark.createDataFrame([(1, good), (2, bad)],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert rows[1]["gopher_pass"] is True
    assert rows[1]["word_count_ok"] and rows[1]["stopword_ok"]
    assert rows[2]["gopher_pass"] is False
    assert not rows[2]["word_count_ok"]
    assert not rows[2]["symbol_ratio_ok"]
    assert not rows[2]["alpha_ok"]


def test_contamination_overlap(spark):
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        contamination_overlap)
    a = "alpha beta gamma delta epsilon zeta eta theta"
    half = "alpha beta gamma delta unrelated words entirely here now"
    other = "completely different content with no shared trigrams at all"
    docs = spark.createDataFrame(
        [(0, a), (1, half), (2, other)], "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 0)
    out = {r["doc_id"]: r for r in
           contamination_overlap(docs, bench, n=3).collect()}
    assert out[0]["overlap_frac"] == 1.0          # benchmark doc itself
    assert 0.0 < out[1]["overlap_frac"] < 1.0     # partial overlap
    assert out[2]["overlap_frac"] == 0.0          # disjoint
    # shuffle-join variant agrees
    out2 = {r["doc_id"]: r["overlap_frac"] for r in
            contamination_overlap(docs, bench, n=3,
                                  broadcast_benchmark=False).collect()}
    assert out2 == {k: v["overlap_frac"] for k, v in out.items()}


def test_brute_force_topk_join_large_query_guard(spark, vectors):
    """The broadcast crossJoin shape refuses non-broadcast-sized query
    sets and points at the IVF path (O(corpus*queries) trap)."""
    import pytest
    queries = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)],
        "query_id long, embedding array<float>")
    with pytest.raises(ValueError, match="ivf"):
        brute_force_topk_join(vectors, queries, k=1,
                              max_broadcast_queries=3)
    # explicit override still runs
    out = brute_force_topk_join(vectors, queries, k=1,
                                max_broadcast_queries=3,
                                allow_large_queries=True)
    assert out.count() == 5


def test_ivf_assign_and_search(spark, vectors):
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]
    cells = ivf_assign(vectors, centroids)
    m = {r["vec_id"]: r["ivf_cell"] for r in cells.collect()}
    assert m[0] == 0 and m[1] == 0 and m[2] == 1 and m[5] == 2
    out = ivf_topk(cells, centroids, [1.0, 0.0, 0.0, 0.0], k=2, n_probe=1)
    assert [r["vec_id"] for r in out.collect()] == [0, 1]


def test_embedding_neardup(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(vectors, threshold=0.9,
                                     n_bands=4, band_bits=4).collect()}
    assert (0, 1) in pairs
    assert (0, 4) not in pairs  # opposite vectors never pass the verify


def test_embedding_neardup_planted_recall(spark):
    """Multi-band OR-composition must recover planted near-duplicates:
    100 base vectors + perturbed copies (cosine ~0.997). The old
    single-AND-band signature had ~0 recall here (one flipped sign bit
    lost the pair)."""
    import math
    base = [(i, [math.sin(i * 7919.0 + j * 104729.0) for j in range(16)])
            for i in range(100)]
    planted = [(i + 1000, [x + 0.02 * (1 if x > 0 else -1) for x in v])
               for i, v in base if i % 2 == 0]
    df = spark.createDataFrame(base + planted,
                               "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(df, threshold=0.95, n_bands=8,
                                     band_bits=12).collect()}
    expected = {(i, i + 1000) for i, _ in base if i % 2 == 0}
    recall = len(pairs & expected) / len(expected)
    assert recall >= 0.9, (recall, len(pairs))


def _union_find(edges):
    """node -> its component's min id, over the non-NULL endpoints."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _components(spark, edges, id_type="long"):
    df = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    rows = connected_components(df).collect()
    got = {r["node"]: r["cluster"] for r in rows}
    assert len(got) == len(rows), "a node labeled twice"
    return got


def test_connected_components_clusters(spark):
    """Transitive closure over pair edges: a chain (1-2, 2-3), a
    separate pair (10-11), an isolated pair chain joined late
    (20-21, 21-22, 22-23) — every node labels with its component min."""
    got = _components(
        spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_two_phase_cc_matches_union_find(spark):
    """large-star/small-star labels equal a union-find's on a mixed
    graph (a late edge 5-3 joins node 5 to the 1-2-3 chain)."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 3)]
    got = _components(spark, edges)
    assert got == _union_find(edges)
    assert got[5] == 1 and got[23] == 20


def test_two_phase_cc_string_ids(spark):
    """Non-numeric ids (string doc hashes/URLs, as curate_corpus may
    pass) take the dictionary lane and keep the contract: cluster =
    component min id in the ORIGINAL ordering."""
    edges = [("url-b", "url-a"), ("url-b", "url-c"), ("doc-9", "doc-2"),
             ("zzz", "doc-9"), ("solo-x", "solo-y")]
    got = _components(spark, edges, "string")
    assert got == _union_find(edges)
    assert got["url-c"] == "url-a" and got["zzz"] == "doc-2"
    assert got["solo-y"] == "solo-x"


def test_two_phase_cc_long_chain_logarithmic(spark):
    """A 64-node chain (diameter 63) collapses to one cluster: the
    star rounds need about log2(64) of them, where min-label
    propagation would need 63."""
    got = _components(spark, [(i, i + 1) for i in range(63)])
    assert got == {i: 0 for i in range(64)}


def test_connected_components_never_returns_unconverged(spark, monkeypatch):
    """Past the round bound the call raises; it never hands back the
    labels of an unfinished closure."""
    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges)


_ids = {"long": st.integers(-4, 12),
        "string": st.text(alphabet="abAB0", max_size=2)}
_graphs = st.sampled_from(sorted(_ids)).flatmap(lambda t: st.tuples(
    st.just(t),
    st.lists(st.tuples(st.none() | _ids[t], st.none() | _ids[t]),
             max_size=24)))


@settings(max_examples=8, deadline=None)
@given(_graphs)
@example(("string", [("a", "a"), ("b", "c")]))  # self-loop node keeps a label
@example(("long", [(7, None), (None, None), (3, 2), (2, 3), (2, 3)]))
def test_connected_components_matches_union_find(spark, graph):
    """Random small graphs — int and string ids, self-loops, repeated
    and reversed edges, NULL endpoints: every non-NULL endpoint gets
    exactly one label, its component's min id, as a union-find gives."""
    id_type, edges = graph
    assert _components(spark, edges, id_type) == _union_find(edges)


def test_lang_id_and_profile(spark, docs):
    pred = {r["doc_id"]: r["lang_pred"]
            for r in docs.select("doc_id", lang_id_expr(F.col("text")).alias("lang_pred")).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"
    t = F.col("text")
    prof = {r["doc_id"]: r for r in docs.select(
        "doc_id", token_count_ws(t).alias("n_tokens_ws"),
        quality_score_expr(t).alias("quality"),
        fingerprint_md5(t).alias("fingerprint")).collect()}
    assert prof[0]["n_tokens_ws"] == len(docs.first()["text"].split())
    assert prof[0]["fingerprint"] == prof[1]["fingerprint"]
    assert prof[0]["fingerprint"] != prof[3]["fingerprint"]
    assert 0.0 <= prof[0]["quality"] <= 1.0


def _fake_media(media_id: int, kind: str, width: int, height: int,
                n_frames: int) -> bytes:
    """Bytes in the layout ``multimodal.deterministic_fake_decode``
    parses: b"FAKE" + kind byte + width, height, n_frames (int32 LE) +
    a 32-byte payload."""
    payload = (np.arange(32, dtype=np.uint8) + (media_id % 199)).tobytes()
    return (b"FAKE" + bytes([["image", "audio", "video"].index(kind)])
            + width.to_bytes(4, "little") + height.to_bytes(4, "little")
            + n_frames.to_bytes(4, "little") + payload)


def _fake_media_pdf(n: int) -> pd.DataFrame:
    """Deterministic synthetic media table."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        w, h = 64 + (i % 8) * 16, 64 + (i % 5) * 16
        nf = 1 if kind != "video" else 30 + (i % 10)
        rows.append({"media_id": i, "kind": kind,
                     "content": _fake_media(i, kind, w, h, nf),
                     "mime": f"{kind}/fake", "meta": {"n_frames": str(nf)}})
    return pd.DataFrame(rows)


def test_multimodal_decode_plumbing(spark):
    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )
    pdf = _fake_media_pdf(30)
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    feats = extract_features(df)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 30
    assert rows[0]["width"] == 64 and rows[0]["n_frames"] == 1
    assert len(rows[0]["feature"]) == 16
    video = [r for r in rows.values() if r["kind"] == "video"][0]
    assert video["n_frames"] >= 30
    # undecodable binary -> nulls, not crash
    bad = spark.createDataFrame(
        [(99, "image", b"JUNK", "image/png", {"n_frames": "1"})], schema=MEDIA_SCHEMA)
    brow = extract_features(bad).first()
    assert brow["width"] is None


def test_otlp_json_roundtrip(spark):
    from opentelemetry_collector_contrib_spark.sources.otlpjson import (
        parse_otlp_json_logs,
    )
    payload = (
        '{"resourceLogs":[{"resource":{"attributes":[{"key":"host.name",'
        '"value":{"stringValue":"h1"}}]},"scopeLogs":[{"scope":{"name":"sc"},'
        '"logRecords":[{"timeUnixNano":"1709296245000000000",'
        '"observedTimeUnixNano":"1709296246000000000","severityNumber":9,'
        '"severityText":"INFO","body":{"stringValue":"hello"},'
        '"attributes":[{"key":"k","value":{"intValue":"42"}}],'
        '"traceId":"0102030405060708090a0b0c0d0e0f10",'
        '"spanId":"0102030405060708","flags":1,"eventName":""}]}]}]}')
    df = spark.createDataFrame([(payload,)], "body string")
    out = parse_otlp_json_logs(df).first()
    assert out["body"] == "hello"
    assert out["resource"] == {"host.name": "h1"}
    assert out["scope_name"] == "sc"
    assert out["attributes"] == {"k": "42"}
    assert out["severity_number"] == 9
    assert str(out["time"]).startswith("2024-03-01 12:30:45")
    assert out["trace_id"].hex() == "0102030405060708090a0b0c0d0e0f10"
