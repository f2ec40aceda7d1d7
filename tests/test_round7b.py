"""Round-7b operators: token chunking, bigram LM, skew report, column
profiler, count-min sketch, semantic decontamination, cluster
representatives — behavioral invariants beyond the oracle mirror."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filesql_spark.pipeline.profile import profile_columns
from filesql_spark.pipeline.sketch import CMS_DEPTH, CMS_WIDTH, cms_counters, cms_estimate
from filesql_spark.pipeline.skew import key_skew_report
from filesql_spark.pipeline.text import bigram_model, chunk_tokens, tokens


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from filesql_spark.queries import load_table

    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------- chunking


def test_chunk_layout_invariants(spark):
    # 100 tokens, window 64, stride 48 → starts 0 and 48; second chunk
    # has 52 tokens; overlap region = tokens 48..63 of chunk 0
    # (tokens() keeps lowercase alpha runs only, so token names are alpha)
    words = [f"w{chr(ord('a') + i // 26)}{chr(ord('a') + i % 26)}" for i in range(100)]
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = chunk_tokens(df, window=64, stride=48).orderBy("chunk_id").collect()
    assert [(c.chunk_id, c.start_tok, c.chunk_len) for c in chunks] == [
        (0, 0, 64),
        (1, 48, 52),
    ]
    c0, c1 = chunks[0].chunk_text.split(" "), chunks[1].chunk_text.split(" ")
    assert c0[48:] == c1[:16]  # overlap tokens identical
    assert c1[-1] == words[-1]  # tail covered


def test_chunk_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    chunks = chunk_tokens(df, window=64, stride=48).collect()
    assert len(chunks) == 1
    assert chunks[0].chunk_len == 3
    assert chunks[0].chunk_text == "a b c"


def test_chunk_covers_every_token(docs):
    # sum over docs of (n_tokens covered by union of chunk ranges) == n_tokens:
    # since stride < window the union of [start, start+len) is [0, n)
    t = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    ).filter("n > 0")
    last = (
        chunk_tokens(docs)
        .groupBy("doc_id")
        .agg(
            F.max(F.col("start_tok") + F.col("chunk_len")).alias("covered"),
            F.min("start_tok").alias("first"),
        )
    )
    bad = t.join(last, "doc_id").filter(
        (F.col("covered") != F.col("n")) | (F.col("first") != 0)
    )
    assert bad.count() == 0


# ------------------------------------------------------------ bigram LM


def test_bigram_model_known_corpus(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "the dog sat")],
        "doc_id long, text string",
    )
    rows = {r.prev: r for r in bigram_model(df).collect()}
    assert rows["the"].next_top == "cat"  # 2 of 3
    assert rows["the"].c_pair == 2 and rows["the"].c_prev == 3
    assert rows["the"].prob_ppm == 666666  # integer floor division
    assert rows["cat"].next_top == "ran"  # tie 1-1 → lexicographic
    assert "sat" not in rows and "ran" not in rows  # terminal tokens


def test_bigram_probabilities_bounded(docs):
    bad = bigram_model(docs).filter(
        (F.col("prob_ppm") > 1_000_000)
        | (F.col("prob_ppm") <= 0)
        | (F.col("c_pair") > F.col("c_prev"))
    )
    assert bad.count() == 0


# ---------------------------------------------------------- skew report


def test_skew_report_known_distribution(spark):
    rows = [(k,) for k in [1] * 50 + [2] * 30 + [3] * 20]
    df = spark.createDataFrame(rows, "k long")
    rep = key_skew_report(df, "k", top=2).orderBy("rank").collect()
    assert [(r.rank, r.k, r.n_rows, r.share_ppm) for r in rep] == [
        (1, 1, 50, 500_000),
        (2, 2, 30, 300_000),
    ]
    assert rep[1].cum_ppm == 800_000


def test_skew_report_cum_monotone(spark, sf_dir):
    from filesql_spark.queries import load_table

    rep = key_skew_report(load_table(spark, sf_dir, "events"), "user_id").collect()
    cums = [r.cum_ppm for r in sorted(rep, key=lambda r: r.rank)]
    assert cums == sorted(cums)
    assert cums[-1] <= 1_000_000


# -------------------------------------------------------------- profiler


def test_profile_nulls_and_types(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (2, 3.5, None), (3, 3.5, "y")],
        "id long, v double, s string",
    )
    p = {r.col_name: r for r in profile_columns(df).collect()}
    assert p["id"].n_rows == 3 and p["id"].n_null == 0 and p["id"].n_distinct == 3
    assert p["v"].n_null == 1 and p["v"].n_distinct == 1
    assert p["v"].min_num == 3.5 and p["v"].max_num == 3.5
    assert p["v"].min_str is None  # numeric → string slots NULL
    assert p["s"].n_null == 1 and p["s"].min_str == "x" and p["s"].max_str == "y"
    assert p["s"].min_num is None


def test_profile_approx_path_runs(docs):
    # HLL variant: same schema, distinct counts within HLL error of exact
    approx = {
        r.col_name: r.n_distinct
        for r in profile_columns(docs, ["doc_id", "lang"], exact=False).collect()
    }
    exact = {
        r.col_name: r.n_distinct
        for r in profile_columns(docs, ["doc_id", "lang"]).collect()
    }
    for c in exact:
        assert abs(approx[c] - exact[c]) <= max(2, 0.1 * exact[c])


# ------------------------------------------------------ count-min sketch


def test_cms_never_underestimates(docs):
    tc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sketch = cms_counters(tc, "tok", "c")
    assert sketch.count() <= CMS_DEPTH * CMS_WIDTH
    est = cms_estimate(sketch, tc, "tok")
    assert est.filter(F.col("est") < F.col("c")).count() == 0


def test_cms_sum_mergeable(docs):
    """The sketch of the whole corpus equals the counter-wise SUM of the
    sketches of any partition of it — the property that makes per-executor
    partial sketches combinable without a vocabulary-sized shuffle."""
    tc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok", (F.col("doc_id") % 2).alias("half"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    full = cms_counters(
        tc.groupBy("tok").agg(F.sum("c").alias("c")), "tok", "c"
    )
    halves = (
        cms_counters(tc.filter("half = 0"), "tok", "c")
        .unionAll(cms_counters(tc.filter("half = 1"), "tok", "c"))
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert full.exceptAll(halves).count() == 0
    assert halves.exceptAll(full).count() == 0


# -------------------------------------------- semantic decontamination


def test_semantic_decon_flags_planted_copy(spark, sf_dir):
    from filesql_spark.pipeline.contamination import semantic_decontaminate
    from filesql_spark.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    train = emb.filter("vec_id < 50")
    flagged = semantic_decontaminate(train, bench, threshold=0.999, n=50)
    rows = flagged.collect()
    # vec 0 is an exact copy of the planted benchmark vector → cos = 1
    assert any(r.vec_id == 0 and r.cos > 0.999 for r in rows)


def test_semantic_decon_clean_set_empty(spark):
    from filesql_spark.pipeline.contamination import semantic_decontaminate

    # orthogonal one-hot vectors (64-dim, matching the fixed hyperplane
    # bank): cos = 0 < threshold → nothing flagged
    def onehot(i):
        v = [0.0] * 64
        v[i] = 1.0
        return v

    train = spark.createDataFrame(
        [(i, onehot(i)) for i in range(4)], "vec_id long, embedding array<float>"
    )
    bench = spark.createDataFrame(
        [(100, onehot(63))], "vec_id long, embedding array<float>"
    )
    assert semantic_decontaminate(train, bench, threshold=0.35, n=4).count() == 0


# --------------------------------------------- cluster representatives


def test_cluster_reps_elects_longest(spark):
    from filesql_spark.pipeline.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5)], "doc_id long, n_chars long"
    )
    # 1-2 and 2-3 near-dups → component {1,2,3}; 7 a singleton
    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    reps = {
        r.component: r
        for r in cluster_representatives(docs, edges).collect()
    }
    assert reps[1].rep_doc_id == 2 and reps[1].rep_score == 99
    assert reps[1].n_members == 3
    assert reps[7].rep_doc_id == 7 and reps[7].n_members == 1


def test_cluster_reps_tie_breaks_to_smallest_id(spark):
    from filesql_spark.pipeline.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(4, 10), (5, 10)], "doc_id long, n_chars long"
    )
    edges = spark.createDataFrame([(4, 5)], "doc_a long, doc_b long")
    (rep,) = cluster_representatives(docs, edges).collect()
    assert rep.rep_doc_id == 4


# ------------------------------------------- streaming CMS / topk / sources


def test_streaming_cms_equals_batch_sketch(spark, sf_dir):
    from filesql_spark.queries import load_table
    from filesql_spark.streaming import documents_cms_stream

    streamed = documents_cms_stream(spark, sf_dir)
    assert streamed.count() <= CMS_DEPTH * CMS_WIDTH  # state bounded
    d = load_table(spark, sf_dir, "documents")
    batch = cms_counters(
        d.select(F.explode(tokens(F.col("text"))).alias("tok"), F.lit(1).alias("c")),
        "tok",
        "c",
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_window_topk_shape(spark, sf_dir):
    from filesql_spark.queries import all_queries

    df = all_queries()["events_window_topk"](spark, sf_dir)
    per_window = df.groupBy("window_start").count()
    assert per_window.filter("count > 3").count() == 0
    # rank 1 row holds the max n of its window
    mx = df.groupBy("window_start").agg(F.max("n").alias("mx"))
    r1 = df.filter("rnk = 1").join(mx, "window_start")
    assert r1.filter(F.col("n") != F.col("mx")).count() == 0


def test_source_reputation_planted_dups(spark):
    from filesql_spark.queries import register  # noqa: F401 (import check)
    from filesql_spark.pipeline.text import tokens as _t  # noqa: F401

    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "good.com", 30),
        (2, "alpha beta gamma delta epsilon", "en", "spam.com", 30),
        (3, "alpha beta gamma delta epsilon", "en", "spam.com", 30),
        (4, "zeta eta", "de", "spam.com", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from pyspark.sql import functions as FF

    d = df.select(
        "source", "lang", "n_chars",
        FF.md5("text").alias("h"),
        FF.size(_t(FF.col("text"))).alias("n_toks"),
    )
    rep = (
        d.groupBy("source")
        .agg(
            FF.count(FF.lit(1)).alias("n"),
            FF.countDistinct("h").alias("u"),
        )
        .collect()
    )
    by = {r.source: r for r in rep}
    assert by["spam.com"].n == 3 and by["spam.com"].u == 2
    assert by["good.com"].n == 1 and by["good.com"].u == 1


# ----------------------------------------------------- curriculum order


def test_curriculum_positions_are_permutation(spark, sf_dir):
    from filesql_spark.queries import all_queries

    df = all_queries()["pipeline_curriculum_order"](spark, sf_dir)
    rows = df.collect()
    n = len(rows)
    assert sorted(r.global_pos for r in rows) == list(range(1, n + 1))
    # stage is non-decreasing along the global order
    by_pos = sorted(rows, key=lambda r: r.global_pos)
    stages = [r.stage for r in by_pos]
    assert stages == sorted(stages)
    # quartile stages are reasonably balanced (sketch resolution ±bin)
    from collections import Counter

    c = Counter(stages)
    assert all(c[s] > 0 for s in range(4))


def test_curriculum_order_deterministic(spark):
    from filesql_spark.pipeline.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(200)], "doc_id long, stage int"
    )
    a = {r.doc_id: r.global_pos for r in curriculum_order(df).collect()}
    b = {r.doc_id: r.global_pos for r in curriculum_order(df).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 201))


# --------------------------------------------------- product quantization


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from filesql_spark.queries import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_pq_codebook_shape_and_determinism(emb):
    from filesql_spark.pipeline.similarity import PQ_K, PQ_M, pq_fit

    a = pq_fit(emb)
    b = pq_fit(emb)
    assert a == b  # exact-integer Lloyd → bit-identical retrain
    assert len(a) == PQ_M
    assert all(len(book) == PQ_K for book in a)
    assert all(len(cw) == 64 // PQ_M for book in a for cw in book)


def test_pq_fit_fewer_vectors_than_codewords(emb):
    """k=16 codewords but only 10 vectors: each codebook holds one codeword
    per vector (seeded from the vectors themselves) instead of raising a
    bare IndexError; no vectors at all is a FilesqlError."""
    from filesql_spark.errors import FilesqlError
    from filesql_spark.pipeline.similarity import PQ_M, pq_encode, pq_fit

    ten = emb.orderBy("vec_id").limit(10)
    books = pq_fit(ten)
    assert len(books) == PQ_M
    assert all(len(book) == 10 for book in books)
    codes = pq_encode(ten, books).collect()
    assert len(codes) == 10
    assert all(0 <= r[f"code_{mi}"] < 10 for r in codes for mi in range(PQ_M))
    with pytest.raises(FilesqlError):
        pq_fit(emb.limit(0))


def test_pq_codes_in_range(emb):
    from filesql_spark.pipeline.similarity import PQ_K, pq_encode, pq_fit

    books = pq_fit(emb)
    codes = pq_encode(emb, books)
    n = emb.count()
    assert codes.count() == n
    for mi in range(len(books)):
        bad = codes.filter(
            (F.col(f"code_{mi}") < 0) | (F.col(f"code_{mi}") >= PQ_K)
        )
        assert bad.count() == 0


def test_pq_rerank_recall_gate(spark, emb):
    """The two-stage serve path must recover ≥90% of the exact top-10
    (measured 0.975 at shortlist=200); ADC alone is documented lossy."""
    from pyspark.sql import Window
    from filesql_spark.pipeline.dedup import quantize
    from filesql_spark.pipeline.similarity import pq_fit, pq_topk_rerank

    books = pq_fit(emb)
    got = pq_topk_rerank(emb, books).collect()
    embq = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    q = embq.filter("vec_id < 8").select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    d = F.expr(
        "aggregate(zip_with(qq, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)"
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = (
        embq.crossJoin(F.broadcast(q))
        .filter("vec_id != q_id")
        .select("q_id", "vec_id", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 10")
        .collect()
    )
    ex, pq = {}, {}
    for r in exact:
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    for r in got:
        pq.setdefault(r.q_id, set()).add(r.vec_id)
    recall = sum(len(ex[k] & pq.get(k, set())) / len(ex[k]) for k in ex) / len(ex)
    assert recall >= 0.9, f"PQ rerank recall {recall}"


# ------------------------------------------------- BPE merges / top paths


def test_bpe_merges_known_corpus(spark):
    from filesql_spark.queries import all_queries  # noqa: F401

    df = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab")], "doc_id long, text string"
    )
    from filesql_spark.pipeline.text import tokens as _t
    vocab = (
        df.select(F.explode(_t(F.col("text"))).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("tok") >= 2)
    )
    pairs = vocab.select(
        F.explode(F.expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"
        )).alias("pair"), "c",
    ).groupBy("pair").agg(F.sum("c").alias("cnt")).collect()
    got = {r.pair: r.cnt for r in pairs}
    # 'aaab' ×3 contributes aa×2, ab×1 each; 'ab' ×1 contributes ab×1
    assert got == {"aa": 6, "ab": 4}


def test_top_paths_order_sensitivity(spark):
    """a>b>c and c>b>a are distinct paths — the property the Markov
    bigram matrix cannot express."""
    import datetime

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i, et in enumerate(["a", "b", "c"]):
        rows.append((i, t0 + datetime.timedelta(minutes=i), 1, et))
    for i, et in enumerate(["c", "b", "a"]):
        rows.append((10 + i, t0 + datetime.timedelta(minutes=i), 2, et))
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type").over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    got = {
        r.path
        for r in seq.select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        ).collect()
    }
    assert got == {"a>b>c", "c>b>a"}


def test_streaming_cms_merges_across_batches(spark, sf_dir, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1 over two copies of the
    table) must yield counters exactly 2× the single-pass sketch — the
    cross-batch state-merge property the single-batch availableNow run
    can't exercise."""
    import shutil
    import uuid

    from filesql_spark.queries import load_table

    src = f"{sf_dir}/documents.parquet"
    d = tmp_path / "cms_stream"
    d.mkdir()
    shutil.copy(src, d / "a.parquet")
    shutil.copy(src, d / "b.parquet")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    counted = stream.select(
        F.explode(tokens(F.col("text"))).alias("tok"), F.lit(1).alias("c")
    )
    counters = cms_counters(counted, "tok", "c")
    sink = f"cms_twobatch_{uuid.uuid4().hex[:8]}"
    q = (
        counters.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    assert len(q.recentProgress) >= 2  # really ran as two micro-batches
    streamed = spark.table(sink)
    once = cms_counters(
        load_table(spark, sf_dir, "documents").select(
            F.explode(tokens(F.col("text"))).alias("tok"), F.lit(1).alias("c")
        ),
        "tok",
        "c",
    ).withColumn("c", F.col("c") * 2)
    assert streamed.exceptAll(once).count() == 0
    assert once.exceptAll(streamed).count() == 0
