"""Unit tests for the training-data operator tiers: text stats,
fingerprints, minhash/simhash, embedding similarity, multimodal
plumbing, the dedup skew bound."""

import pyspark.sql.functions as F

from ocr_service_spark.functions.textstats import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    gram_hashes,
    grams,
    minhash_fold,
    stop_ratio,
    tokens,
)
from ocr_service_spark.operators.dedup import (
    dedup_latest,
    drop_hot_shingles,
    exact_text_dedup,
)
from ocr_service_spark.operators.multimodal import decode_stub, with_media_meta
from ocr_service_spark.operators.similarity import HYPERPLANES, cosine_topk, lsh_topk


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _md5_60(s):
    """Python twin of textstats.token_hash."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _toks(spark):
    # gram callers project the token array once and keep docs of >= 3
    # tokens (the short doc 4 carries no gram)
    return _docs(spark).select(
        "doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 3)


def test_grams_and_gram_hashes(spark):
    out = _toks(spark).select(
        "doc_id", grams(F.col("toks"), 3).alias("g"),
        gram_hashes(F.col("toks"), 3).alias("gh")).collect()
    by_id = {r.doc_id: r for r in out}
    assert 4 not in by_id
    assert by_id[0].g[0] == "the quick brown" and len(by_id[0].g) == 7
    assert sorted(by_id[0].gh) == sorted({_md5_60(g) for g in by_id[0].g})
    assert by_id[0].gh == by_id[3].gh


def test_minhash_identical_docs_same_signature(spark):
    sigs = _toks(spark).select(
        "doc_id", minhash_fold(gram_hashes(F.col("toks"), 3)).alias("sig")
    ).collect()
    by_id = {r.doc_id: tuple(r.sig) for r in sigs}
    assert by_id[0] == by_id[3], "identical docs → identical signatures"
    # near-dups (one word differs) share most minhashes; disjoint docs none
    share_01 = sum(a == b for a, b in zip(by_id[0], by_id[1]))
    share_02 = sum(a == b for a, b in zip(by_id[0], by_id[2]))
    assert share_01 > share_02


def test_exact_dedup_groups(spark):
    out = exact_text_dedup(_docs(spark), "text", "doc_id").collect()
    groups = {r.content_hash: (r.keeper_id, r.n_dups) for r in out}
    assert len(groups) == 4
    assert (0, 2) in groups.values(), "dup pair keeps min doc_id"


def test_drop_hot_shingles_bounds_fanout(spark):
    # 50 docs all share shingle "hot" (df=50 > cap 10); each also has a
    # unique shingle (df=1). The guard must drop every "hot" row and
    # keep every unique one — bounding the self-join fan-out.
    rows = [(i, s) for i in range(50) for s in ("hot", f"uniq{i}")]
    sh = spark.createDataFrame(rows, "doc_id long, g string")
    kept = drop_hot_shingles(sh, "g", max_df=10).collect()
    assert len(kept) == 50
    assert all(r.g != "hot" for r in kept)
    # nothing under the cap is touched
    assert len(drop_hot_shingles(sh, "g", max_df=50).collect()) == 100


def test_stop_ratio(spark):
    r = _docs(spark).select(
        "doc_id", stop_ratio(tokens(F.col("text")), ("the",)).alias("s")).collect()
    by_id = {x.doc_id: x.s for x in r}
    assert by_id[0] == round(2 / 9, 4)
    assert by_id[2] == 0.0


def test_cosine_topk_finds_near_duplicate(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    assert out[0].cos_sim > 0.99


def test_lsh_topk_same_bucket_neighbors(spark):
    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [(0, base), (1, [x + rng.uniform(-0.01, 0.01) for x in base]),
            (2, [-x for x in base])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    ids = [r.neighbor_id for r in out]
    assert 1 in ids, "jittered twin lands in the same bucket"
    assert 2 not in ids, "antipode lands in the complementary bucket"
    assert len(HYPERPLANES) == 8 and len(HYPERPLANES[0]) == 64


def test_multimodal_meta_matches_stub(spark):
    df = spark.createDataFrame(
        [(1, b"hello world"), (2, b""), (3, None)],
        "id long, payload binary")
    out = {r.id: r.m for r in with_media_meta(df, "payload", "m").collect()}
    exp = decode_stub(b"hello world")
    assert out[1].n_bytes == 11 and out[1].sha256 == exp["sha256"]
    assert out[1].width == exp["width"] and out[1].n_frames == exp["n_frames"]
    assert out[2].n_bytes == 0 and out[2].sha256 is None
    assert out[3].n_bytes == 0


def test_dedup_latest_hot_url_sends_one_row_per_map_task(spark):
    # one url owns 40,000 of 41,000 rows, 200 cold urls share the rest:
    # the partial max in each map task must collapse every url before
    # the single exchange, so it writes one row per distinct
    # (input partition, url) pair
    hot = spark.range(40_000).selectExpr("'hot' AS url", "id AS ts",
                                         "concat('p', id) AS payload")
    cold = spark.range(1_000).selectExpr("concat('u', id % 200) AS url", "id AS ts",
                                         "concat('c', id) AS payload")
    df = hot.union(cold).repartition(8).localCheckpoint()
    pairs = df.select(F.spark_partition_id().alias("p"), "url").distinct().count()

    out = dedup_latest(df, key="url", order_cols=("ts",))
    got = sorted(map(tuple, out.collect()))
    latest = {}
    for r in df.collect():
        if r.url not in latest or r.ts > latest[r.url][1]:
            latest[r.url] = (r.url, r.ts, r.payload)
    assert got == sorted(latest.values())

    plan = out._jdf.queryExecution().executedPlan()
    exchanges = [n for n in _plan_nodes(plan) if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1, plan.toString()
    written = exchanges[0].metrics().apply("shuffleRecordsWritten").value()
    assert written == pairs, (written, pairs)


def _plan_nodes(node):
    """Every physical operator under `node`, looking through adaptive
    query stages to the plans they ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_ivf_topk_finds_planted_neighbor(spark):
    import random

    rng = random.Random(3)
    rows = []
    # two well-separated gaussian-ish blobs + a planted near-duplicate
    for i in range(40):
        center = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [center + rng.uniform(-0.05, 0.05) for _ in range(64)]))
    base = rows[6][1]
    rows.append((100, [v + 0.001 for v in base]))  # near-dup of vec 6
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from ocr_service_spark.operators.similarity import ivf_centroids, ivf_topk

    cents = ivf_centroids(emb, n_clusters=4).collect()
    assert len(cents) == 4 and all(len(c.centroid) == 64 for c in cents)

    got = ivf_topk(emb, emb.filter(F.col("vec_id") == 100), k=1,
                   n_clusters=4, n_probe=2).collect()
    assert len(got) == 1 and got[0].neighbor_id == 6


def test_ivf_handles_sparse_nonzero_ids(spark):
    """ADVICE r2: seeds must be the n_clusters lowest ids, not
    `id < n_clusters` — with ids starting at 1000 the old predicate
    selected an empty seed set and ivf_topk silently returned nothing."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(40):
        center = 1.0 if i % 2 == 0 else -1.0
        rows.append((1000 + i * 7,
                     [center + rng.uniform(-0.05, 0.05) for _ in range(64)]))
    base = rows[6][1]
    rows.append((9999, [v + 0.001 for v in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from ocr_service_spark.operators.similarity import ivf_centroids, ivf_topk

    cents = ivf_centroids(emb, n_clusters=4).collect()
    assert len(cents) == 4
    assert sorted(c.cid for c in cents) == [1000, 1007, 1014, 1021]

    got = ivf_topk(emb, emb.filter(F.col("vec_id") == 9999), k=1,
                   n_clusters=4, n_probe=2).collect()
    assert len(got) == 1 and got[0].neighbor_id == rows[6][0]


def test_minhash_fold_equals_python_reference(spark):
    """The per-row fold is min over the doc's distinct shingle hashes x
    of (a*x + b) mod p for each (a, b) of the shared hash family."""
    p = MINHASH_PRIME
    rows = _toks(spark).select(
        "doc_id", grams(F.col("toks"), 3).alias("g"),
        minhash_fold(gram_hashes(F.col("toks"), 3)).alias("sig")).collect()
    assert len(rows) == 4
    for r in rows:
        xs = {_md5_60(g) for g in r.g}
        assert r.sig == [min((a % p * (x % p) + b) % p for x in xs)
                         for a, b in MINHASH_COEFFS]


def test_compression_ratio_matches_direct_zlib(spark):
    import zlib

    from ocr_service_spark.queries import QUERIES

    rows = (
        QUERIES["compression_quality"](spark, "/root/testdata/sf0.001")
        .collect()
    )
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    texts = dict(con.execute(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall())
    assert len(rows) == len(texts) > 0
    n_rep = 0
    for r in rows:
        b = texts[r.doc_id].encode("utf-8")
        exp = round(len(zlib.compress(b, 6)) / len(b), 4) if b else None
        assert r.compression_ratio == exp, r.doc_id
        assert r.is_repetitive == (exp is not None and exp < 0.45)
        n_rep += bool(r.is_repetitive)
    # the synthetic corpus is template-heavy: the flag must fire for
    # some but not all docs, or the threshold tells us nothing
    assert 0 < n_rep < len(rows)


def test_ivf_assignment_is_map_only(spark):
    """The nearest-centroid assignment must stay a pure map stage
    (broadcast centroid array + in-row argmax), not a per-vector
    window: at corpus scale every extra Exchange here shuffles the
    whole vector table. The pre-r3 window form planned 14 Exchanges /
    15 Windows; the array form plans 6 / 3."""
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7) - 3.0 for j in range(8)]) for i in range(50)],
        "vec_id long, embedding array<float>")
    from ocr_service_spark.operators.similarity import ivf_topk

    df = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=2,
                  n_clusters=4, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 7, plan.count("Exchange")
    assert plan.count("Window") <= 3, plan.count("Window")
