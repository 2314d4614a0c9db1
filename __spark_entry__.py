"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Query families (SURVEY.md §2 inventory → entries here):
- ``extract_*`` / ``pages_*`` / ``spans_*`` / ``select_*``: the HTML engine
  + pipeline over the deterministic pages fixture (fixtures/gen_pages.py);
  golden oracles read the fixture's independently-composed ``text`` column
  via DuckDB read_parquet.
- ``q*_`` / ``window_*`` / ``join_*`` / ``set_*`` / ``rollup_*`` /
  ``json_*`` / ``date_*``: relational operators (R8–R13) over the driver's
  TPC-H-ish tables with direct SQL oracles.
- ``dedup_*`` / ``embed_*`` / ``text_*`` / ``lang_*`` / ``fp_*``:
  training-data operators (exact/MinHash/SimHash/Jaccard dedup, ANN,
  text analysis). SQL-oracled where both engines can express identical
  math; the xxhash64/hyperplane family (MinHash, SimHash, winnow,
  ANN-LSH) is oracled against golden parquet composed by an independent
  pure-Python implementation (fixtures/gen_golden.py + fixtures/xxh64.py)
  that DuckDB reads via read_parquet.
- ``stream_*``: Structured Streaming variant (R16), oracled via the
  floor-epoch window equivalence.

Column names are aliased identically on both sides (driver hashes by
sorted column name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

REPO = os.path.dirname(os.path.abspath(__file__))
import sys

if REPO not in sys.path:
    sys.path.insert(0, REPO)

from fixtures.gen_pages import ensure_pages  # noqa: E402
from htmld_spark.functions import dedup as D  # noqa: E402
from htmld_spark.functions import similarity as S  # noqa: E402
from htmld_spark.functions import text as TX  # noqa: E402
from htmld_spark.functions.udfs import extract_df, select_count_df  # noqa: E402

# Oracle fixture glob — the driver runs correctness at sf=0.01. The fixture
# is a directory of sharded parquet files (fixtures/gen_pages.py).
_FIX_01 = os.path.join(REPO, "fixtures", "data", "sf0.01", "pages.parquet", "*.parquet")


def _sf_of(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else "0.01"


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_pages(_sf_of(sf_dir)))


# Tables whose queries do heavy per-row compute (shingling, hashing,
# vector folds) — worth rebalancing when the scan can't split.
_COMPUTE_HEAVY = {"documents", "embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # The driver's testdata tables are single-file/single-row-group
    # parquet — unsplittable, so every narrow stage over them runs as ONE
    # task while the other 31 cores idle (measured: the sf0.1 shingle
    # stage alone was 3.1 s single-task). Rebalance compute-heavy tables
    # when the scan yields pathologically few splits; at production scale
    # inputs arrive as many files/row groups and this branch never fires.
    if name in _COMPUTE_HEAVY:
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if df.rdd.getNumPartitions() < max(2, target // 4):
            df = df.repartition(target)
    return df


# --------------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract main content from the sf0.001 pages corpus with the
    §2.A engine (mapInArrow), then the per-language metrics rollup (R8)."""
    pages = spark.read.parquet(ensure_pages("0.001"))
    extracted = extract_df(pages.select("url", "warc_ts", "html", "lang"))
    return (
        extracted.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum("n_spans").alias("total_spans"),
            F.sum(F.when(F.col("parse_ok"), 0).otherwise(1)).alias("n_errors"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------- queries


def _q_extract_main_text(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    out = extract_df(
        pages.select("url", "warc_ts", "html", "lang"), with_spans=False
    )
    return out.select("url", "warc_ts", "text")


def _q_extract_metrics_by_lang(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    out = extract_df(pages.select("url", "warc_ts", "html", "lang"), with_spans=False)
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def _q_spans_tag_histogram(spark, sf_dir):
    """R7: posexplode of the spans column — the UDTF-equivalent relational
    view of the DOM. Golden-oracled per tag against the fixture's
    hand-composed tc_* counts (fixtures/gen_pages.py TAG_BATTERY)."""
    from fixtures.gen_pages import TAG_BATTERY

    pages = _pages(spark, sf_dir)
    out = extract_df(pages.select("url", "html"), with_spans=True)
    return (
        out.select(F.explode("spans").alias("s"))
        .filter(F.col("s.tag").isin(TAG_BATTERY))
        .groupBy(F.col("s.tag").alias("tag"))
        .agg(F.count("*").alias("n"))
        .orderBy("tag")
    )


def _q_select_counts(spark, sf_dir):
    """Per-document match counts for the full selector battery (S3, S6,
    S8–S16 — every attr operator, combinator and pseudo), golden-oracled
    row-by-row against the fixture's independently composed sel_* columns."""
    from fixtures.gen_pages import SELECTOR_BATTERY

    pages = _pages(spark, sf_dir)
    return select_count_df(
        pages.select("url", "warc_ts", "html"),
        [s for _, s in SELECTOR_BATTERY],
        names=[k for k, _ in SELECTOR_BATTERY],
    )


def _q_select_extract(spark, sf_dir):
    """querySelectorAll → innerText, relationally (the reference's primary
    workflow; S18/S19 + X1 over the corpus). Golden-oracled per
    (url, warc_ts, selector) against the fixture's se_* columns."""
    from fixtures.gen_pages import SELECT_EXTRACT_SELECTORS
    from htmld_spark.functions.udfs import select_extract_df

    pages = _pages(spark, sf_dir)
    out = select_extract_df(
        pages.select("url", "warc_ts", "html"), SELECT_EXTRACT_SELECTORS
    )
    return out.select(
        "url",
        "warc_ts",
        "selector",
        "n_matches",
        F.try_element_at("texts", F.lit(1)).alias("first_text"),
    )


def _q_outer_html_main(spark, sf_dir):
    """X2/X3: outerHTML serialization of the <main> element per page —
    requiresQuotes quoting, entity re-escape, implied-end-tag explicitation,
    void '/>' — golden-oracled against the fixture's hand-composed
    main_outer_html column."""
    from htmld_spark.functions.udfs import select_extract_df

    pages = _pages(spark, sf_dir)
    out = select_extract_df(
        pages.select("url", "warc_ts", "html"), ["main"], with_html=True
    )
    return out.select(
        "url",
        "warc_ts",
        F.try_element_at("htmls", F.lit(1)).alias("outer_html"),
    )


def _q_pages_dedup_latest(spark, sf_dir):
    pages = _pages(spark, sf_dir)
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", "warc_ts")
    )


def _q_pages_host_counts(spark, sf_dir):
    # try_parse_url: plain parse_url RAISES on unparseable urls in Spark 4;
    # coalesce to '' mirrors the oracle regexp_extract's no-match result
    pages = _pages(spark, sf_dir)
    return (
        pages.select(
            F.coalesce(
                F.try_parse_url("url", F.lit("HOST")), F.lit("")
            ).alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"))
    )


# --- relational (R8-R13) over driver tables -----------------------------------------


def _q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _q_top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .join(F.broadcast(c.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "total_spent")
        .orderBy(F.col("total_spent").desc(), "c_custkey")
        .limit(25)
    )


def _q_window_running_qty(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


def _q_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _q_rollup_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


def _q_cube_events(spark, sf_dir):
    """Grouping sets via cube (R8): event counts over all combinations of
    (event_type, weekday-bucket)."""
    e = _t(spark, sf_dir, "events")
    wd = F.date_format("ts", "E").isin("Sat", "Sun")
    return (
        e.withColumn("is_weekend", wd)
        .cube("event_type", "is_weekend")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
    )


def _q_dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact, gated to a subset; the
    LSH-bucketed scale path is embed_ann_lsh)."""
    from htmld_spark.functions.similarity import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = emb.alias("a")
    b = emb.alias("b")
    va = F.col("a.embedding").cast("array<double>")
    vb = F.col("b.embedding").cast("array<double>")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(_dot(va, vb) / (_norm(va) * _norm(vb)), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )


def _q_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_events_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
    )


def _q_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


def _q_stream_window_counts(spark, sf_dir):
    """R16: Structured Streaming tumbling-window counts, driven to completion
    synchronously on the batch parquet (memory sink)."""
    # ws is tz-sensitive (NTZ→TIMESTAMP cast + unix_timestamp); pin UTC so
    # the result matches the DuckDB naive-epoch oracle in ANY driver session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # The file-stream source requires a directory; expose the single parquet
    # file through a symlink dir (read-only testdata stays untouched).
    import hashlib

    link_dir = os.path.join(
        "/tmp", "htmld_stream_src_" + hashlib.md5(path.encode()).hexdigest()[:8]
    )
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(schema).parquet(link_dir)
    # parquet stores TIMESTAMP_NTZ; event-time watermarks need TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "event_type",
            "n",
        )
    )
    name = "stream_win_counts"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _q_stream_session_counts(spark, sf_dir):
    """R16: Structured Streaming SESSION windows (F.session_window with a
    30-minute gap per user), driven to completion on the batch parquet via
    the file-stream source + memory sink. Oracled by the equivalent
    gap-sessionization SQL (new session when the inter-event gap ≥ gap;
    window end = last_ts + gap)."""
    from htmld_spark.streaming.stream_job import session_window_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    import hashlib

    link_dir = os.path.join(
        "/tmp", "htmld_stream_src_" + hashlib.md5(path.encode()).hexdigest()[:8]
    )
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(schema).parquet(link_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = session_window_counts(stream, gap="30 minutes", watermark="365 days")
    name = "stream_session_counts"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# --- training-data ops -------------------------------------------------------------------


def _q_dedup_exact_groups(spark, sf_dir):
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _q_dedup_exact_keep(spark, sf_dir):
    return D.exact_dedup_keep(_t(spark, sf_dir, "documents"))


def _q_dedup_jaccard_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.ngram_jaccard_pairs(d, threshold=0.5)


def _q_dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, jaccard_threshold=0.5)


def _q_dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(d, max_hamming=3)


def _q_dedup_simhash_wide(spark, sf_dir):
    """The AT-SCALE SimHash config (VERDICT r04 #6): Manku-style wider
    keys — 8 blocks × 2 per key = C(8,2)=28 tables of 16-bit keys. The
    guarantee blocks_per_key ≤ n_blocks − max_hamming (2 ≤ 5) makes
    recall total for hamming ≤ 3, so the pair set is IDENTICAL to the
    default config's and shares the same pure-Python golden oracle."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(d, max_hamming=3, n_blocks=8, blocks_per_key=2)


def _q_dedup_minhash_keep(spark, sf_dir):
    """Full near-dup policy: MinHash+LSH pairs → connected-components
    clustering → keep min id per cluster + all unpaired docs. Oracled by a
    pure-Python union-find over the golden pair set."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, jaccard_threshold=0.5)
    return D.near_dedup_keep(d, pairs)


def _q_dedup_minhash_keep_star(spark, sf_dir):
    """The same keep-set policy routed through the AT-SCALE clustering
    (Kiveris large/small-star CC, O(log n) rounds on any graph shape —
    the variant long-chain graphs need). component = min id either way,
    so the keep set — and the union-find golden — are identical to
    ``dedup_minhash_keep``'s; this row gives the star path its own hard
    driver-verified correctness evidence (it was equality-tested only)."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, jaccard_threshold=0.5)
    return D.near_dedup_keep(d, pairs, cc="star")


def _q_embed_cosine_topk(spark, sf_dir):
    return S.cosine_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=20)


def _q_embed_near_pairs_lsh(spark, sf_dir):
    """Embedding near-dup pairs at scale: BANDED LSH candidates (8 bands ×
    16 planes — 2^16-way band keys per VERDICT r03 #1; the former 8-bit
    keys were quadratic-within-bucket at crawl scale) + exact cosine
    verify on candidates only. Golden-oracled via the replayed-planes
    pure-Python replica; size rows_per_band with
    similarity.sized_rows_per_band at other corpus sizes."""
    return S.lsh_near_pairs(
        _t(spark, sf_dir, "embeddings"),
        dim=64,
        cosine_threshold=0.3,
        bands=8,
        rows_per_band=16,
    )


def _q_embed_batch_topk(spark, sf_dir):
    """Exact top-10 per query for a 5-query batch: broadcast queries, JVM
    cosine fold, one window over a skinny (query_id, id, negcos)
    projection — the exact batch baseline behind the indexed ANN paths."""
    return S.batch_cosine_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


def _q_ngram_repetition(spark, sf_dir):
    """Gopher n-gram repetition signals over the pages corpus: top/dup
    2- and 3-gram char fractions — per-doc-local array_sort + linear
    run fold, zero shuffle."""
    pages = _pages(spark, sf_dir)
    return (
        TX.ngram_repetition(pages, id_col="url", text_col="text")
        .select(
            "url",
            "top2_char_frac",
            "dup2_char_frac",
            "top3_char_frac",
            "dup3_char_frac",
        )
        .distinct()
    )


def _q_embed_near_dedup_keep(spark, sf_dir):
    """Embedding-level near-dup KEEP set: banded-LSH pairs → connected
    components → keep min vec_id per cluster + all unpaired vectors (the
    L30 policy applied to the embedding table). Golden: pure-Python
    union-find over the golden lsh_near_pairs set."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_pairs(emb, dim=64, cosine_threshold=0.3)
    return D.near_dedup_keep(emb, pairs, id_col="vec_id")


def _q_decontaminate(spark, sf_dir):
    """Eval-set decontamination: docs sharing ≥1 word 8-gram with the
    'benchmark' slice (doc_id < 5 of the same table — self-matches prove
    the probe fires). Broadcast eval grams, one corpus pass."""
    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") < 5)
    return TX.contamination_flags(docs, eval_df, n=8)


def _q_quality_score(spark, sf_dir):
    """Model-based quality gate (FineWeb-Edu-style classifier filter with
    a transparent linear head over the pinned quality features):
    sigmoid-scored, row-local, zero shuffle. SQL-twin oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_score(docs)


def _q_stratified_sample(spark, sf_dir):
    """Deterministic corpus-mixing downsample: per-lang keep rates
    (1.0/0.5/0.25/0.125 — dyadic, exact in float64) applied as a
    content-stable hash filter. Golden-oracled via the pure-Python xxh64
    replica (chained-seed hash with the stratified salt)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.stratified_sample(
        docs, rates={"en": 1.0, "de": 0.5, "fr": 0.25, "zh": 0.125}
    ).select("doc_id", "lang")


def _q_blocklist_filter(spark, sf_dir):
    """C4-style blocklist gate over fixture-present words with a 2%
    hits-per-token threshold (row-local regexp, zero shuffle). DuckDB
    regexp twin is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.blocklist_filter(
        docs, blocklist=("merge", "skew", "slow"), max_hit_ratio=0.02
    )


def _q_chunk_documents(spark, sf_dir):
    """Fixed-token training chunks with 50% overlap (32-token chunks,
    stride 16): per-doc-local slicing, narrow posexplode, zero shuffle.
    DuckDB list-slicing twin is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, chunk_tokens=32, stride=16)


def _q_pack_shards(spark, sf_dir):
    """Training-shard packing: docs in doc_id order fill consecutive
    ~2000-token shards — distributed prefix sum (range partition + local
    Arrow cumsum + broadcast partition offsets), never a global
    single-task window. DuckDB's one-window twin is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    from htmld_spark.functions.text import token_count

    base = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return TX.pack_shards(base, budget_tokens=2000)


def _q_incremental_dedup(spark, sf_dir):
    """Incremental crawl dedup: odd-doc_id slice ("new snapshot") deduped
    against the even-doc_id slice ("already-kept corpus") — exact md5
    anti-join, then a MinHash band-key anti-join (new-vs-ref, never a
    self-join over the union). Golden via the pure-Python xxh64 replica."""
    docs = _t(spark, sf_dir, "documents")
    new_df = docs.filter(F.col("doc_id") % 2 == 1)
    ref_df = docs.filter(F.col("doc_id") % 2 == 0)
    return D.dedup_against_reference(new_df, ref_df).select("doc_id")


def _q_substring_dedup(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2021 ExactSubstr, relational
    re-expression): mask every non-first occurrence of a duplicated token
    8-gram across the documents corpus, merge masked windows, reassemble.
    Gram stats via map-side-combinable count+min-struct (no window on the
    gram key — mega-gram-safe); DuckDB twin is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.remove_duplicate_ngrams(docs, n=8)


def _q_substring_dedup_hashed(spark, sf_dir):
    """Substring dedup in its AT-SCALE mode (VERDICT r04 #1/#6):
    hash_grams=True shuffles 8-byte xxhash64 gram keys instead of raw
    gram strings. Collision-free at sf0.01 (2⁻⁶⁴ per pair), so the same
    DuckDB string-gram twin oracles both modes."""
    docs = _t(spark, sf_dir, "documents")
    return TX.remove_duplicate_ngrams(docs, n=8, hash_grams=True)


def _q_host_term_divergence(spark, sf_dir):
    """Per-host unigram KL divergence vs the corpus over the pages
    fixture — one token pass, corpus marginal derived from the
    (host, token) counts, 1-row broadcast grand total. DuckDB twin."""
    return TX.host_term_divergence(_pages(spark, sf_dir), min_host_tokens=50)


def _q_dsir_select(spark, sf_dir):
    """DSIR importance RESAMPLING: Gumbel top-100 over the L49 log
    weights with deterministic per-id Lehmer-LCG noise — reproducible,
    repartition-invariant, and SQL-expressible (the oracle composes the
    dsir_importance twin with the same LCG/Gumbel arithmetic)."""
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    return TX.dsir_select(docs, tgt, n_take=100)


def _q_dedup_lines_within_doc(spark, sf_dir):
    """RefinedWeb-style within-doc line dedup over a synthesized
    repeated-line corpus (text, blank, text, text — every doc exercises
    the dup and blank paths). The DuckDB row_number window lives in the
    ORACLE only; the Spark side is row-local and window-free."""
    docs = _t(spark, sf_dir, "documents")
    synth = F.concat_ws("\n", "text", F.lit(""), "text", "text")
    return TX.remove_repeated_lines(docs.select("doc_id", synth.alias("text")))


def _q_c4_line_rules(spark, sf_dir):
    """C4 §2.2 line+page rules over a synthesized multi-line corpus: each
    doc gets a punctuated copy of its text, a 'javascript' line, a
    too-short line, and a '?'-terminated copy — so keep/drop branches and
    the page gate all fire. DuckDB list twin is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    first_tok = F.substring_index(F.trim(F.col("text")), " ", 1)
    synth = F.concat_ws(
        "\n",
        F.concat(F.col("text"), F.lit(".")),
        F.lit("enable javascript please now okay."),
        F.concat(first_tok, F.lit(".")),
        F.concat(F.col("text"), F.lit(" indeed?")),
    )
    return TX.c4_line_rules(
        docs.select("doc_id", synth.alias("text")), min_words=3, min_lines=2
    )


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality signal: add-1 bigram LM trained on the
    doc_id%10==0 reference slice, per-doc perplexity over the whole
    corpus — the relational stand-in for CCNet's KenLM ranking. DuckDB
    twin (same counts, same smoothing) is the oracle."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    return TX.lm_perplexity(docs, ref)


def _q_dsir_importance(spark, sf_dir):
    """DSIR importance weights: log p_target/p_raw over unigram bags,
    target = the doc_id%10==0 slice, raw = the full corpus. Raw-token
    feature mode for exact DuckDB parity (the hashed n_buckets mode is
    pinned by the pure-Python xxhash64 replica in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("doc_id") % 10 == 0)
    return TX.dsir_log_weights(docs, tgt)


def _q_boilerplate_line_removal(spark, sf_dir):
    """C4/RefinedWeb-style corpus-level boilerplate removal: drop every
    line appearing in ≥3 distinct urls, reassemble remaining lines in
    order. Two passes over the corpus (line doc-freq, then an anti-join
    against the broadcast frequent-line set) + one ordered reassembly."""
    pages = _pages(spark, sf_dir).select("url", "warc_ts", "text")
    return TX.remove_boilerplate_lines(pages, min_doc_freq=3)


def _q_host_top_terms(spark, sf_dir):
    """Per-host top-5 terms (length ≥ 4) by count — domain-vocabulary /
    boilerplate probe; one map-side-combined count shuffle + a window
    over the counted table."""
    pages = _pages(spark, sf_dir)
    return TX.host_top_terms(pages, url_col="url", text_col="text", k=5)


def _q_embed_ann_lsh(spark, sf_dir):
    return S.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, k=20, dim=64
    )


def _q_embed_ann_ivf(spark, sf_dir):
    """IVF ANN, production shape: seeded Lloyd's coarse quantizer fit on a
    bounded UNBIASED hash-threshold driver sample (pmod(xxhash64(id), 2)
    == 0 — FAISS-style train-on-sample without the id-prefix bias or the
    TakeOrdered heap), distributed cell assignment against broadcast
    centroids, fit-free probe+re-rank query. Golden-oracled by the
    pure-Python replay of the pinned Lloyd spec."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = S.ivf_build_sampled(emb, n_cells=16, sample_mod=2)
    return S.ann_ivf_query(assigned, centroids, query_vec_id=0, k=20, n_probe=4)


def _q_text_token_stats(spark, sf_dir):
    return TX.token_stats(_t(spark, sf_dir, "documents"))


def _q_bpe_token_stats(spark, sf_dir):
    """BPE-ish regex token counting vs whitespace (the task mandate's
    'token counting (whitespace + a BPE-ish regex)')."""
    return TX.bpe_token_stats(_t(spark, sf_dir, "documents"))


def _q_text_quality(spark, sf_dir):
    return TX.quality_features(_t(spark, sf_dir, "documents"))


def _q_lang_id(spark, sf_dir):
    return TX.lang_id(_t(spark, sf_dir, "documents"))


def _q_gopher_rules(spark, sf_dir):
    """Gopher-style quality gate (Rae et al. 2021 §A1.1): word-count and
    mean-word-length bounds, symbol/word ratio, bullet- and ellipsis-line
    fractions, alphabetic-word fraction, stopword floor, combined verdict.
    Row-local JVM expressions; DuckDB twin is the oracle."""
    out = TX.gopher_rules(_t(spark, sf_dir, "documents"))
    return out.withColumn("passes", F.col("passes").cast("int"))


def _q_fingerprint(spark, sf_dir):
    return TX.fingerprint(_t(spark, sf_dir, "documents"))


def _q_winnow_fingerprint(spark, sf_dir):
    """Rolling-hash winnowing fingerprint (zero-shuffle array expressions;
    golden-oracled via fixtures/gen_golden.py pure-Python winnowing)."""
    return TX.winnow_fingerprint(_t(spark, sf_dir, "documents"))


def _q_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails + intl phone numbers → redaction tokens).
    Synthetic PII is injected identically on both engines so the scrub
    demonstrably fires on every row."""
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex-a.mple.org call +44 555 "),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("text"),
    )
    return TX.pii_scrub(injected)


def _q_url_normalize(spark, sf_dir):
    """URL canonicalization: lowercase scheme://host, strip :80/:443, drop
    fragment, strip one trailing slash — over messied fixture urls (the
    messying is applied identically on both engines)."""
    pages = _pages(spark, sf_dir).select("url").distinct()
    messy = F.concat(
        F.lit("HTTP://"),
        F.upper(F.regexp_extract("url", r"https?://([^/]+)", 1)),
        F.lit(":80"),
        F.regexp_extract("url", r"https?://[^/]+(/.*)$", 1),
        F.lit("/#frag"),
    )
    return TX.url_normalize(pages.select(messy.alias("url")), url_col="url")


def _q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup over the pages corpus: text blocks
    appearing in ≥2 distinct urls (boilerplate discovery)."""
    pages = _pages(spark, sf_dir)
    return TX.paragraph_dedup(pages, id_col="url", text_col="text")


def _q_bigram_topk(spark, sf_dir):
    """Corpus-wide top-50 word bigrams over the documents table."""
    return TX.bigram_topk(_t(spark, sf_dir, "documents"), k=50)


def _q_hash_split(spark, sf_dir):
    """Deterministic content-stable train/val/test assignment
    (pmod(xxhash64(key), 100) percentage buckets); golden-oracled via the
    pure-Python xxh64 replica."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return TX.hash_split(d, key_col="doc_id")


def _q_host_quota(spark, sf_dir):
    """Per-host document quota: keep ≤300 docs per host, oldest-first
    (anti-domination policy; cuts the fixture's hot host)."""
    pages = _pages(spark, sf_dir).select("url", "warc_ts")
    return TX.host_quota(pages, max_per_host=300)


def _q_repetition_features(spark, sf_dir):
    """Gopher/FineWeb repetition filters over the pages corpus: duplicate-
    line fraction and duplicate-line character mass — per-document-local
    array expressions, zero shuffle."""
    pages = _pages(spark, sf_dir)
    return TX.repetition_features(pages, id_col="url", text_col="text").select(
        "url", "n_lines", "dup_line_frac", "dup_line_char_frac"
    ).distinct()


def _q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (Arrow-batched pandas UDF; no
    JVM zlib exists). Golden parquet oracle: computed by
    fixtures/gen_golden.py — NOTE both sides use Python's zlib, so this
    oracle pins plumbing + determinism, not an independent compressor."""
    return TX.compression_ratio(_t(spark, sf_dir, "documents"))


def _q_asof_join_events(spark, sf_dir):
    """As-of join: each click event picks the most recent prior-or-equal
    view event's value per user (functions/relational.py; DuckDB native
    ASOF JOIN is the oracle)."""
    from htmld_spark.functions.relational import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.round("value", 4).alias("click_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("view_value"))
    )
    joined = asof_join(clicks, views, on="ts", by="user_id")
    return joined.select("event_id", "user_id", "click_value", "view_value")


def _q_asof_join_forward(spark, sf_dir):
    """Forward as-of join: each click picks the NEXT view at-or-after its
    timestamp per user (direction='forward'; DuckDB ASOF with `<=`)."""
    from htmld_spark.functions.relational import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.round("value", 4).alias("click_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("view_value"))
    )
    joined = asof_join(clicks, views, on="ts", by="user_id", direction="forward")
    return joined.select("event_id", "user_id", "click_value", "view_value")


def _q_set_ops_hosts(spark, sf_dir):
    """Set ops (R12): hosts crawled in BOTH en and de, and en-only hosts."""
    pages = _pages(spark, sf_dir).select(
        # try_parse_url sweep (VERDICT r06 #1): '' matches the oracle regex
        F.coalesce(
            F.try_parse_url("url", F.lit("HOST")), F.lit("")
        ).alias("host"),
        "lang",
    )
    en = pages.filter(F.col("lang") == "en").select("host").distinct()
    de = pages.filter(F.col("lang") == "de").select("host").distinct()
    both = en.intersect(de).withColumn("which", F.lit("both"))
    only_en = en.exceptAll(de).withColumn("which", F.lit("en_only"))
    return both.unionByName(only_en)


def _q_pivot_orders(spark, sf_dir):
    """Pivot (R8): order counts per priority pivoted on status."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0)
    )
    return p.select(
        "o_orderpriority",
        F.col("O").alias("n_open"),
        F.col("F").alias("n_filled"),
        F.col("P").alias("n_pending"),
    )


def _q_topk_parts_per_brand(spark, sf_dir):
    """Top-k per group (R10): 3 priciest parts per brand."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "rk", "p_partkey", "p_retailprice")
    )


def _q_spans_array_ops(spark, sf_dir):
    """Array functions over the spans column (R13): size / filter without
    leaving the JVM. Golden-oracled per row: n_elements == the fixture's
    hand-composed sel_all (total element count), n_p == tc_p. (The
    max-span-width transform/aggregate form is pinned by the span-invariant
    pytest instead — raw offsets are not independently composable.)"""
    pages = _pages(spark, sf_dir)
    out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=True)
    return out.select(
        "url",
        "warc_ts",
        F.size("spans").alias("n_elements"),
        F.size(F.filter("spans", lambda s: s["tag"] == F.lit("p"))).alias("n_p"),
    )


def _media(spark):
    from fixtures.gen_media import ensure_media

    return spark.read.parquet(os.path.join(ensure_media(), "media.parquet"))


def _q_multimodal_image_resize(spark, sf_dir):
    """REAL nearest-neighbor BMP resize (codecs.bmp_resize_nn, pinned
    floor sampling) re-encoded as BMP — golden pins the exact output
    BYTES via md5 against expected payloads composed from draw params
    (fixtures/gen_media.py); closes the task mandate's 'resize' item."""
    from htmld_spark.functions import multimodal as MM

    return MM.image_resize_df(_media(spark), tw=16, th=8).select(
        "media_id", "out_w", "out_h", "resized_md5", "decoder"
    )


def _q_multimodal_image_features(spark, sf_dir):
    """REAL pure-Python BMP decode (codecs.py): channel means + aHash.
    Golden-oracled against closed-form expectations composed from the draw
    parameters (fixtures/gen_media.py); the decoder column pins that the
    real path ran, not the stub."""
    from htmld_spark.functions import multimodal as MM

    return MM.image_features_df(_media(spark)).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b",
        "phash", "decoder",
    )


def _q_multimodal_image_near_dups(spark, sf_dir):
    """Perceptual image near-dup pairs: real BMP decode → aHash → the
    block-trick join shared with SimHash → popcount ≤ 3 verify. The
    guarantee (max_hamming < n_blocks) means recall is total, so the
    oracle is the plain quadratic hamming self-join over the golden
    expected-phash parquet."""
    from htmld_spark.functions import multimodal as MM

    return MM.image_near_dup_pairs(_media(spark), max_hamming=3)


def _q_multimodal_audio_features(spark, sf_dir):
    """REAL pure-Python PCM-16 WAV decode: sample rate, count, RMS."""
    from htmld_spark.functions import multimodal as MM

    return MM.audio_features_df(_media(spark)).select(
        "media_id", "sample_rate", "n_samples", "rms", "decoder"
    )


def _q_multimodal_frame_sample(spark, sf_dir):
    """REAL RAWV frame decode: 1 video row → k frame rows with per-frame
    mean; golden-oracled against the generator's fill-byte closed form."""
    from fixtures.gen_media import FRAME_EVERY_N
    from htmld_spark.functions import multimodal as MM

    return MM.frame_sample_df(_media(spark), every_n=FRAME_EVERY_N).select(
        "media_id", "frame_idx", "frame_mean", "frame_bytes"
    )


def _q_encoding_extract(spark, sf_dir):
    """X11 charset-normalized extraction (engine/encoding.py — WHATWG
    BOM sniff + html5 meta prescan + UTF-8-validation/windows-1252
    fallback, folded into the extraction kernel BEFORE the parse): one
    MapInArrow crossing over the multi-charset fixture
    (fixtures/gen_encodings.py — 38 encoding modes: windows-125x /
    iso-8859-x alias labels, shift_jis→windows-31j, euc-jp/kr,
    iso-2022-jp, gbk/gb18030/big5, UTF-16 BOMs, undeclared-1252
    fallback, prescan edge labels). Golden oracle: the fixture's
    independently composed text column — the html bytes went through
    each codec's own encoder, the expectation never did."""
    from fixtures.gen_encodings import ensure_encodings
    from htmld_spark.functions.udfs import extract_df

    df = spark.read.parquet(ensure_encodings()).select("url", "html")
    return extract_df(df, with_spans=False).select("url", "text")


def _q_encoding_sniff(spark, sf_dir):
    """X11b charset census (sniff_encoding_df): per-page (encoding,
    source) verdicts — the corpus encoding-mix report a curation run
    uses to budget transcode work. Row-local ONE-MapInArrow plan.
    Golden oracle: the fixture's expected verdict columns (BOM beats
    meta beats UTF-8 validation beats the windows-1252 default)."""
    from fixtures.gen_encodings import ensure_encodings
    from htmld_spark.functions.udfs import sniff_encoding_df

    df = spark.read.parquet(ensure_encodings()).select("url", "html")
    return sniff_encoding_df(df)


def _q_script_mix(spark, sf_dir):
    """L65 Unicode script-mix census (text.script_mix): per-doc letter
    counts across 10 BMP script families + dominant script — the
    language-routing confidence signal (declared-lang vs letters
    mismatch flags mojibake/mislabels). Row-local JVM regex passes, no
    shuffle. The contract PLANTS Cyrillic/CJK/Hangul/Arabic suffixes on
    %5/%7/%11/%13 ids (the documents fixture is all-Latin — without
    plants the census would be vacuously latin-dominant); DuckDB replays
    the plants and the same generated dominant-chain comparison."""
    from htmld_spark.functions.text import script_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    for mod, suffix in _SCRIPT_PLANTS:
        docs = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % mod == 0,
                F.concat(F.col("text"), F.lit(suffix)),
            ).otherwise(F.col("text")),
        )
    return script_mix(docs)


_SCRIPT_PLANTS = [
    (5, " данные корпус текст"),
    (7, " 日本語テスト 中文数据"),
    (11, " 한국어 텍스트"),
    (13, " نص بيانات"),
]


def _script_mix_oracle() -> str:
    """DuckDB twin generated from the SAME SCRIPT_RANGES table and
    plant list as the Spark side — ranges and the first-in-order-max
    dominant chain are shared data, the replay logic is DuckDB's own."""
    from htmld_spark.functions.text import SCRIPT_RANGES

    t = "coalesce(text, '')"
    for mod, suffix in _SCRIPT_PLANTS:
        t = f"CASE WHEN doc_id % {mod} = 0 THEN {t} || '{suffix}' ELSE {t} END"
    counts = ", ".join(
        f"len(regexp_extract_all(t, '[{rng}]')) AS {name}"
        for name, rng in SCRIPT_RANGES
    )
    names = [n for n, _ in SCRIPT_RANGES]
    whens = []
    for i, n in enumerate(names):
        conds = [f"{n} > 0"]
        conds += [f"{n} > {names[j]}" for j in range(i)]
        conds += [f"{n} >= {names[j]}" for j in range(i + 1, len(names))]
        whens.append("WHEN " + " AND ".join(conds) + f" THEN '{n}'")
    dom = "CASE " + " ".join(whens) + " ELSE NULL END"
    total = " + ".join(names)
    return (
        f"WITH planted AS (SELECT doc_id, {t} AS t FROM documents), "
        f"counted AS (SELECT doc_id, {counts} FROM planted) "
        f"SELECT doc_id, {', '.join(names)}, {total} AS scripted_chars, "
        f"{dom} AS dominant_script FROM counted"
    )


def _q_token_budget_sample(spark, sf_dir):
    """L67 token-budget corpus mixing (text.token_budget_sample): the
    practitioner's "X tokens of src0, unlimited src1, none of the rest"
    recipe — per-stratum rate min(1, budget/token_mass) from ONE
    map-side-combinable sum + bounded collect, then the content-stable
    keep-hash filter (zero joins, predicate-pushable). Budgets
    (gen_golden.TOKEN_BUDGET_CONTRACT, shared dict) exercise a clamped
    rate, two mid rates, a small rate, and 16 unbudgeted strata that
    must drop entirely. Golden oracle: the pure-Python xxh64 replica's
    parquet (rates derived by the same sorted-order single division)."""
    from fixtures.gen_golden import TOKEN_BUDGET_CONTRACT
    from htmld_spark.functions.text import token_budget_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    return token_budget_sample(
        docs, TOKEN_BUDGET_CONTRACT, stratum_col="source",
        tokens_col="n_chars",
    ).select("doc_id", "source")


def _q_wet_roundtrip(spark, sf_dir):
    """L66 WET-style export (the corpus OUT-ramp) proven by ROUND TRIP:
    documents → `wet_export` conversion-record shards (ISO 28500, one
    gzip member per record, Content-Length framing) → `wet_pages_df`
    read-back → (url, text). The oracle is the SOURCE table itself — a
    value-level identity over the full write→read cycle, so any framing
    bug (length, CRLF, member boundary, UTF-8) breaks the hash. One
    mapInArrow sink pass + one read pass; 4 shards via repartition."""
    import os
    import shutil
    import tempfile

    from htmld_spark.sources.warc import wet_export, wet_pages_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(
            F.lit("https://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    out = os.path.join(tempfile.gettempdir(), "htmld_spark_wet_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    wet_export(docs.repartition(4), out).count()  # export IS this action
    return wet_pages_df(spark, out).select("url", "text")


def _q_recrawl_diff(spark, sf_dir):
    """L64 re-crawl change detection (relational.recrawl_diff): per-key
    added/removed/changed/unchanged verdicts + digests + byte delta —
    the refresh-policy input that lets unchanged pages skip the curation
    tail on a re-crawl. Digest-only pre-projections feed ONE
    co-partitioned full outer join (text never shuffles). The contract
    PLANTS the change sets (doc_id%13 added, %11 removed, %7 edited) so
    every status is genuinely exercised — the trivial-oracle trap
    dodged; DuckDB replays the same plants + join."""
    from htmld_spark.functions.relational import recrawl_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.filter(F.col("doc_id") % 13 != 5)
    new = docs.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" re-crawl delta"),
            ),
        ).otherwise(F.col("text")),
    )
    return recrawl_diff(old, new, key_col="doc_id")


def _q_warc_robots(spark, sf_dir):
    """R18c robots-from-crawl: derive the per-host robots.txt table from
    the archives themselves (path == /robots.txt captures; LATEST
    capture per host wins, body-md5 tie-break) — the consent loop with
    no external table. Row-local pushable filter → one
    map-side-combinable max_by groupBy on the host; only robots bodies
    shuffle. Golden oracle: the fixture's composed robots rows (one host
    has a superseded older capture that must lose) replayed by a DuckDB
    row_number window."""
    from fixtures.gen_warc import ensure_warc
    from htmld_spark.sources.robots import robots_from_pages
    from htmld_spark.sources.warc import warc_pages_df

    arch, _exp = ensure_warc()
    rb = robots_from_pages(warc_pages_df(spark, arch))
    return rb.select("host", F.md5("robots").alias("robots_md5"))


def _q_pdf_extract(spark, sf_dir):
    """X8 PDF text extraction (the north rule's "PDF/layout parse" leg;
    engine/pdf.py — forgiving xref-free parse, FlateDecode/ASCIIHex
    streams, §9.4 text operators with y-motion line breaks): one
    MapInArrow crossing over the deterministic PDF fixture
    (fixtures/gen_pdfs.py — expected text composed INDEPENDENTLY from
    the logical lines while the PDF encodes them through varied spec
    mechanisms: TJ kerns, hex strings, escapes, x-only Td gaps,
    compressed streams, garbage xrefs, junk-prefixed headers). Golden
    oracle: the fixture's text column IS the expectation, byte-exact."""
    from fixtures.gen_pdfs import ensure_pdfs
    from htmld_spark.functions.udfs import extract_pdf_df

    df = spark.read.parquet(ensure_pdfs()).select("pdf_id", "pdf")
    return extract_pdf_df(df).select("pdf_id", "text", "n_pages")


def _q_pdf_metadata(spark, sf_dir):
    """X8b PDF document metadata (Info dict, spec §14.3.3 — crawl
    metadata: title/producer/creation date): trailer /Info resolution
    with a keyed-dict fallback for trailer-less crawl PDFs; one
    MapInArrow. Encrypted docs (standard security, §7.6 — VERDICT r06
    missing #2) report encrypted=true with null metadata. Golden oracle:
    the fixture's independently composed metadata columns (nulls for the
    ~1/4 of rows without an Info dict and for the /Encrypt rows)."""
    from fixtures.gen_pdfs import ensure_pdfs
    from htmld_spark.functions.udfs import pdf_info_df

    df = spark.read.parquet(ensure_pdfs()).select("pdf_id", "pdf")
    return pdf_info_df(df)


def _q_robots_filter(spark, sf_dir):
    """R18 robots.txt consent filtering (RFC 9309 — retroactive AI-crawler
    opt-out enforcement over an existing corpus): per-host robots parse
    (agent-group selection: longest matching token beats '*'; wildcard +
    $-anchored path rules, longest-match-wins, Allow on ties), one host
    join + one mapInArrow verdict pass with a per-worker parse cache.
    Contract agent 'aibot' exercises the agent-specific total-opt-out
    group. Golden oracle: the fixture's BY-CONSTRUCTION verdicts (urls
    generated to sit inside/outside each rule's intent — never by
    running a matcher)."""
    from fixtures.gen_robots import ensure_robots
    from htmld_spark.sources.robots import robots_filter

    rp, ep = ensure_robots()
    pages = spark.read.parquet(ep).select("url")
    robots = spark.read.parquet(rp)
    return robots_filter(pages, robots, agent="aibot")


def _q_warc_ingest(spark, sf_dir):
    """R17 WARC ingest (ISO 28500 — the Common Crawl container): the
    on-ramp landing raw crawl archives into the mandated pages table.
    binaryFile scan → one mapInArrow parse (per-record gzip members with
    corrupt-member salvage, request/warcinfo records skipped, HTTP
    payloads split at the header/body boundary and DECODED — chunked
    transfer framing removed, gzip/deflate content codings inflated with
    bomb caps, per RFC 9112/9110). Golden oracle: the fixture's
    independently composed (url, ts, n_bytes, md5) rows — incl. an
    archive whose FINAL gzip member is corrupt (everything before it
    must land) and a response whose chunked framing corrupts after two
    valid chunks (the two-chunk prefix must land)."""
    from fixtures.gen_warc import ensure_warc
    from htmld_spark.sources.warc import warc_pages_df

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    arch, _exp = ensure_warc()
    return warc_pages_df(spark, arch).select(
        "url",
        "warc_ts",
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("html_md5"),
        "content_type",
        "http_status",
        "redirect_location",
    )


def _q_warc_redirects(spark, sf_dir):
    """R17c redirect map: 3xx responses with a Location header become
    (url, redirect_location, http_status) edges — canonical-resolution /
    frontier-chasing / dead-link-repair input. Location is resolved
    against the capture url INSIDE the one parse crossing (RFC 9110
    allows relative forms — the fixture's 302 carries one); downstream
    is a row-local pushable filter on skinny envelope columns. Golden
    oracle: the fixture's composed status + resolved-location fields."""
    from fixtures.gen_warc import ensure_warc
    from htmld_spark.sources.warc import redirect_edges, warc_pages_df

    arch, _exp = ensure_warc()
    return redirect_edges(warc_pages_df(spark, arch))


def _q_warc_extract(spark, sf_dir):
    """R17b crawl on-ramp end to end: WARC archives → pages (R17, body
    codings undone) → ``html_pages`` mime filter (image/plain responses
    dropped by a row-local codegen predicate; headerless captures kept)
    → X11 charset normalization where the HTTP Content-Type carries the
    only charset signal (the transport step outranks the meta prescan)
    → mcx-1 extraction. ONE MapInArrow for the parse + one for the
    extraction — the real Common-Crawl-to-text path. Golden oracle: the
    fixture's independently composed main_txt per html row."""
    from fixtures.gen_warc import ensure_warc
    from htmld_spark.functions.udfs import extract_df
    from htmld_spark.sources.warc import html_pages, warc_pages_df

    arch, _exp = ensure_warc()
    pages = html_pages(warc_pages_df(spark, arch))
    out = extract_df(
        pages.select("url", "html", "content_type"), with_spans=False
    )
    return out.select("url", "text")


def _q_epoch_shuffle(spark, sf_dir):
    """L58 deterministic per-epoch training-order shuffle (WebDataset /
    tf.data pattern): hash-shard + seeded intra-shard order — one window
    per shard (never a global sort), content-stable, repartition-
    invariant. Golden-oracled via the pure-Python xxh64 replica
    (chained-seed hashes, signed-bigint order)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return TX.epoch_shuffle(docs, seed=7, n_shards=16)


def _q_paragraph_dedup_keep(spark, sf_dir):
    """L54 corpus-level paragraph dedup, FIRST-OCCURRENCE keep (Dolma
    §4.1): non-first occurrences of duplicated non-empty paragraphs drop
    corpus-wide, docs reassembled in order; blank paragraphs are
    structure and always survive. One hash groupBy (singleton keys
    pruned) + join back + per-doc reassembly. The fixture corpus has NO
    cross-doc duplicate paragraphs (measured), so the query plants two
    boilerplate paragraphs on id-slices — every doc_id%7 doc gains a
    cookie banner, every %11 doc a footer (plus a blank separator) —
    exercising drop, keep-first, and blank-preservation. DuckDB window
    twin composes the same corpus."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit("\ncookie banner accept all\n\nsite footer nav")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit("\nsite footer nav")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TX.dedup_paragraphs_corpus(docs, id_col="doc_id")


def _q_tf_idf_top_terms(spark, sf_dir):
    """L55 per-document TF-IDF top-k terms (Spärck Jones 1972; smoothed
    sklearn idf): (id, term) counts + vocabulary-sized df table + 1-row
    broadcast N, window top-k over the counted table. DuckDB twin is the
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.tf_idf_top_terms(docs, id_col="doc_id", k=3)


def _q_temperature_sample(spark, sf_dir):
    """L56 temperature-rebalanced multilingual sampling (XLM-R, Conneau
    et al. 2020 §3.1: q_l ∝ p_l^α): per-lang counts via one bounded
    collect, rates in deterministic sorted-lang order, then the
    content-stable stratified keep-hash. Golden-oracled via the
    pure-Python xxh64 + rate replica."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return TX.temperature_sample(docs, alpha=0.3, sample_frac=0.5)


def _q_semdedup_keep(spark, sf_dir):
    """L57 SemDeDup (Abbas et al. 2023) semantic dedup over embeddings:
    deterministic seeded-Lloyd k-means (the IVF coarse quantizer,
    bounded hash-threshold sample), within-cluster cosine ≥ τ pairs,
    keep-lowest-id representative. Golden-oracled by the pure-Python
    replica (sample, fit, assignment, fold-order cosine, keep rule)."""
    from htmld_spark.functions.similarity import semdedup_keep

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_keep(emb, tau=0.3, sample_mod=2)


def _q_semdedup_keep_capped(spark, sf_dir):
    """L57b SemDeDup with the hot-cluster cap (VERDICT r06 #6 — the L27
    max_bucket_size rule): cells above ``max_cell_size`` are excluded
    from the within-cell pairwise pass via a broadcast anti-join on the
    hot-cell list, members all KEPT (fail-open, like L27). Cap 35
    excludes 4 of 16 cells at sf0.01, so the oracle is not vacuous.
    Golden: the replica replays the identical rule."""
    from htmld_spark.functions.similarity import semdedup_keep

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_keep(emb, tau=0.3, sample_mod=2, max_cell_size=35)


OG_SEP = chr(31)  # ASCII unit separator; the oracle joins with chr(31) too


def _q_page_metadata(spark, sf_dir):
    """X10 page-metadata extraction (engine/meta.py — the head-metadata
    leg of the extraction tier): first-<title> (RCDATA, ws-normalized),
    first <meta name=description|robots content=...>, first
    <link rel~=canonical> resolved against the effective base
    (first-<base href> rebasing, http(s)-only, first wins even if
    unusable), <html lang>, charset (meta charset / http-equiv
    content-type, document order), OpenGraph card first-wins-per-key as
    parallel sorted arrays, returned joined by ``OG_SEP`` (a row of list
    columns cannot be compared as a set). ONE MapInArrow over the fixture
    pages.
    Golden oracle: the fixture's COMPOSITION-FIRST expectation (every
    field picks its expected value first, then derives the markup form —
    the generator never normalizes/decodes/resolves;
    fixtures/gen_meta.py)."""
    from fixtures.gen_meta import ensure_meta
    from htmld_spark.functions.udfs import extract_meta_df

    pages_path, _exp = ensure_meta()
    pages = spark.read.parquet(pages_path)
    return extract_meta_df(pages).select(
        "url", "title", "description", "meta_robots", "canonical_url",
        "lang", "charset",
        F.array_join("og_props", OG_SEP).alias("og_props"),
        F.array_join("og_values", OG_SEP).alias("og_values"),
    )


def _q_sitemap_entries(spark, sf_dir):
    """R19 sitemap parsing (sources/sitemaps.py — the seed-discovery leg
    of the crawl on-ramp; sitemaps.org protocol): urlset/sitemapindex/
    plain-text forms, gzip (salvaging member reader), first-root and
    first-child-wins rules, loc entity/CDATA decode + RFC 3986
    resolution + http(s)-only + 2048-char cap, changefreq enum
    validation, priority range validation. ONE mapInArrow over the
    (url, body) frame, exploded to one row per entry. Golden oracle:
    the fixture's COMPOSITION-FIRST expectation (each entry picks its
    expected record first, then derives the payload form;
    fixtures/gen_sitemaps.py)."""
    from fixtures.gen_sitemaps import ensure_sitemaps
    from htmld_spark.sources.sitemaps import sitemap_entries_df

    maps_path, _exp = ensure_sitemaps()
    return sitemap_entries_df(spark.read.parquet(maps_path))


def _q_extract_links(spark, sf_dir):
    """X9 outlink extraction (engine/links.py — the crawl-frontier leg):
    <a href>/<area href> in document order, first-<base href> rebasing,
    markup-whitespace cleanup, entity-decoded values, RFC 3986
    resolution with fragments stripped, non-http(s) schemes skipped.
    ONE MapInArrow over the fixture pages; the explode to one row per
    link happens JVM-side (posexplode). Golden oracle: the fixture's
    COMPOSITION-FIRST expectation (each link picks its absolute target
    first, then derives the embedded href form — the generator never
    resolves a reference; fixtures/gen_links.py)."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    out = extract_links_df(pages)
    return out.select(
        "url", F.posexplode("links").alias("pos", "link_url")
    ).withColumn("pos", F.col("pos").cast("int"))


def _q_anchor_pairs(spark, sf_dir):
    """X9b (link target, anchor text) harvesting — the web's labeled
    description of each target url, the raw material of retrieval /
    query-doc training sets (MS-MARCO-style weak supervision). The
    anchor_texts array rides the SAME single MapInArrow as the links
    (links[i] ↔ anchor_texts[i]); the pair-up is JVM-side
    arrays_zip + posexplode. Golden oracle: the fixture composes each
    anchor's normalized text BEFORE deriving the embedded content form
    (messy whitespace / nested markup / entity / empty / <area alt>)."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    out = extract_links_df(pages)
    z = out.select(
        "url",
        F.posexplode(F.arrays_zip("links", "anchor_texts")).alias("pos", "z"),
    )
    return z.select(
        "url",
        F.col("pos").cast("int").alias("pos"),
        F.col("z.links").alias("link_url"),
        F.col("z.anchor_texts").alias("anchor_text"),
    )


# messy-url construction shared by the L60 contract entries: six
# deterministic variants per doc_id, engineered so canonicalization is
# NON-vacuous (0≡1 and 2≡3 collide per group, 4 collides across groups,
# 5 is unparseable) — the trivial-oracle trap dodged explicitly. The
# CONSTRUCTION is shared (it isn't the thing under test); the
# canonicalization is implemented independently on each side.
_MESSY_URL_SPARK = """CASE pmod(doc_id, 6)
  WHEN 0 THEN concat('HTTP://WWW.site', CAST((doc_id div 6) % 50 AS STRING),
    '.example:80/p/', CAST(doc_id div 6 AS STRING), '?utm_source=x&b=2&a=1#frag')
  WHEN 1 THEN concat('http://site', CAST((doc_id div 6) % 50 AS STRING),
    '.example/p/', CAST(doc_id div 6 AS STRING), '?a=1&b=2')
  WHEN 2 THEN concat('https://EX', CAST((doc_id div 6) % 40 AS STRING),
    '.example:443/q/', CAST(doc_id div 6 AS STRING), '?z=9&fbclid=abc&y=1')
  WHEN 3 THEN concat('https://user:pw@ex', CAST((doc_id div 6) % 40 AS STRING),
    '.example/q/', CAST(doc_id div 6 AS STRING), '?y=1&z=9&utm_medium=m')
  WHEN 4 THEN concat('HTTPS://WWW.h', CAST((doc_id div 6) % 30 AS STRING),
    '.EXAMPLE?utm_campaign=c')
  ELSE concat('not a url ', CAST(doc_id AS STRING))
END"""

_MESSY_URL_DUCK = """CASE doc_id % 6
  WHEN 0 THEN 'HTTP://WWW.site' || CAST((doc_id // 6) % 50 AS VARCHAR)
    || '.example:80/p/' || CAST(doc_id // 6 AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
  WHEN 1 THEN 'http://site' || CAST((doc_id // 6) % 50 AS VARCHAR)
    || '.example/p/' || CAST(doc_id // 6 AS VARCHAR) || '?a=1&b=2'
  WHEN 2 THEN 'https://EX' || CAST((doc_id // 6) % 40 AS VARCHAR)
    || '.example:443/q/' || CAST(doc_id // 6 AS VARCHAR) || '?z=9&fbclid=abc&y=1'
  WHEN 3 THEN 'https://user:pw@ex' || CAST((doc_id // 6) % 40 AS VARCHAR)
    || '.example/q/' || CAST(doc_id // 6 AS VARCHAR) || '?y=1&z=9&utm_medium=m'
  WHEN 4 THEN 'HTTPS://WWW.h' || CAST((doc_id // 6) % 30 AS VARCHAR)
    || '.EXAMPLE?utm_campaign=c'
  ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
END"""

# DuckDB re-implementation of the pinned canonicalization rule set
# (functions/urls.py docstring) — regexp parts instead of parse_url,
# list_* HOFs instead of Spark array HOFs. Independent of the Spark code.
_CANON_DUCK = """
  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
  regexp_replace(regexp_replace(CASE
      WHEN lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http'
        THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '')
      WHEN lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https'
        THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '')
      ELSE lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
    END, '^[^@/]*@', ''), '^www\\.', '') AS host,
  CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
    THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) END AS path,
  list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
    x -> x <> '' AND NOT regexp_matches(x,
      '^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|ref_src)(=|$)')) AS qtok
"""

_CANON_FINAL_DUCK = """CASE WHEN proto <> '' AND host <> ''
  THEN proto || '://' || host || path ||
    CASE WHEN len(qtok) > 0 THEN '?' || array_to_string(list_sort(qtok), '&') ELSE '' END
  ELSE NULL END"""


def _q_canonical_urls(spark, sf_dir):
    """L60 url canonicalization (functions/urls.py — the url-key dedup
    layer of a crawl): pure whole-stage-codegen Column expression
    (try_parse_url + regexp + array HOFs), zero Python crossings,
    row-local. Oracle: an independent DuckDB regexp/list_* twin of the
    pinned rule set over the same messy-url construction."""
    from htmld_spark.functions.urls import canonical_url

    docs = _t(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id", f"{_MESSY_URL_SPARK} AS url"
    ).select("doc_id", canonical_url("url").alias("canon_url"))


def _q_url_dedup_keep(spark, sf_dir):
    """L60b url-key dedup: lowest doc_id per canonical url + variant
    count — ONE map-side-combinable groupBy (the exact-dedup shape).
    The construction guarantees real collisions (see _MESSY_URL_SPARK),
    so the oracle isn't vacuously green."""
    from htmld_spark.functions.urls import dedup_urls_keep

    docs = _t(spark, sf_dir, "documents")
    messy = docs.selectExpr("doc_id", f"{_MESSY_URL_SPARK} AS url")
    return dedup_urls_keep(messy, url_col="url", id_col="doc_id").withColumn(
        "n_variants", F.col("n_variants").cast("long")
    )


def _q_cdx_index(spark, sf_dir):
    """L62 CDX-style capture index (functions/urls.py cdx_index — the
    shape of Common Crawl's public url index): urlkey = SURT key of the
    canonical url (host labels reversed, comma-joined + ')' + path +
    query), ts, md5 payload digest, byte length; built as a
    range-partitioned within-partition sort (sampled split points,
    never a single-partition global sort). Oracle: the independent
    DuckDB canonicalization twin extended with its own list_reverse
    SURT + md5/octet_length over the same messy-url construction (the
    compare is order-insensitive; the SORT is plan-asserted in
    tests/test_urls.py, value-asserted here)."""
    from htmld_spark.functions.urls import cdx_index

    # _t rebalances the single-file driver table so the md5+SURT
    # projection parallelizes (r8: the direct read gave 2 scan splits —
    # 30 of 32 cores idle through the heaviest per-row expression)
    docs = _t(spark, sf_dir, "documents")
    caps = docs.selectExpr(
        f"{_MESSY_URL_SPARK} AS url",
        "CAST(1767225600 + doc_id AS BIGINT) AS ts",
        "text AS payload",
    )
    out = cdx_index(caps, url_col="url", ts_col="ts", payload_col="payload")
    return out.withColumn("n_bytes", F.col("n_bytes").cast("long"))


def _q_host_link_graph(spark, sf_dir):
    """L59a host-level link graph (crawl-frontier ordering input): page
    outlinks collapse to (src_host, dst_host, n_links) IMMEDIATELY —
    one explode + one map-side-combinable groupBy, so every downstream
    iteration runs on the ~10^7-host projection instead of 10^12 pages.
    Hosts via try_parse_url (malformed urls dropped, never raised).
    Oracle: DuckDB regexp host extraction over the composition-first
    expected links (independent of engine AND of Spark's url parser)."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.graph import host_link_graph
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    return host_link_graph(extract_links_df(pages)).withColumn(
        "n_links", F.col("n_links").cast("long")
    )


def _q_host_degree_stats(spark, sf_dir):
    """L63 per-host degree/volume features (functions/graph.py
    host_degree_stats): distinct in/out neighbor counts, in/out link
    volume, self-link volume — two map-side-combinable groupBys over
    the host-sized edge list + one full outer join. Oracle: the same
    aggregates re-derived in DuckDB from the composition-first expected
    links (regexp host extraction, independent of the engine AND of
    Spark's url parser)."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.graph import host_degree_stats, host_link_graph
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    return host_degree_stats(host_link_graph(extract_links_df(pages)))


def _q_pagerank_hosts(spark, sf_dir):
    """L59b fixed-point integer PageRank over the host graph (Page et
    al. 1999): ranks are int64 micro-units, contributions are
    rank div out_deg, update = base + (85·Σ) div 100 — every operation
    exact int64 arithmetic, so the result is BIT-IDENTICAL under any
    partitioning / executor count / aggregation order (float-sum
    PageRank is not: double addition doesn't associate). 10 fixed
    rounds; per-round localCheckpoint truncates the iterative lineage.
    Golden oracle: fixtures/gen_links.replica_pagerank replays the
    documented integer spec in pure Python over the composed links."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.graph import host_link_graph, pagerank_hosts
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    return pagerank_hosts(host_link_graph(extract_links_df(pages)), n_iter=10)


def _q_robots_directives(spark, sf_dir):
    """R18b per-host politeness directives (Crawl-delay — the de-facto
    Bing/Yandex extension, a GROUP rule under the same longest-token
    agent selection; Sitemap — file-wide, sitemaps.org protocol):
    ONE mapInArrow over the slim (host, robots) frame, no shuffle.
    Golden oracle: the fixture's BY-CONSTRUCTION directive expectations
    (composed alongside the robots bytes, never by running the parser)
    — incl. invalid/negative delays, min-merge of split groups, and
    the no-fallback-to-* rule when the agent has its own group."""
    from fixtures.gen_robots import ensure_robots
    from htmld_spark.sources.robots import robots_directives_df

    rp, _ep = ensure_robots()
    robots = spark.read.parquet(rp)
    out = robots_directives_df(robots, agent="aibot")
    return out.select(
        "host",
        "crawl_delay",
        F.array_join("sitemaps", " ").alias("sitemaps"),
    )


def _q_frontier_select(spark, sf_dir):
    """L61 crawl-frontier selection (Heritrix/Nutch frontier shape):
    candidate links → host-quality-ordered, politeness-capped fetch
    batch. Composes the whole crawl-ordering leg end to end: extract
    links → host graph → integer PageRank → per-host window cap (3) →
    global TakeOrdered budget (25). Oracle replays the policy in DuckDB
    over the composed expected links + the pure-python PageRank
    expectation — independent of the engine, Spark's url parser, and
    the Spark PageRank."""
    from fixtures.gen_links import ensure_links
    from htmld_spark.functions.graph import (
        frontier_select,
        host_link_graph,
        pagerank_hosts,
    )
    from htmld_spark.functions.udfs import extract_links_df

    pages_path, _exp = ensure_links()
    pages = spark.read.parquet(pages_path)
    links = extract_links_df(pages)
    cand = links.select(F.explode("links").alias("url"))
    ranks = pagerank_hosts(host_link_graph(links), n_iter=10)
    out = frontier_select(cand, ranks, per_host_cap=3, budget=25)
    return out.withColumn("slot", F.col("slot").cast("long"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract registry. ROTATION (VERDICT r03 #3): the driver
    snapshots the FIRST 50 dict entries each round, so coverage decays as
    the registry grows past 50. Window policy: (1) never-driver-verified
    entries first, (2) entries whose BEHAVIOR changed this round next,
    (3) the stalest rotated-out tail, (4) stable driver-green entries
    fill the rest. The registry COUNT is printed by
    `python tools/check_contract.py` (VERDICT r05 #4: quote the tool, do
    not hand-maintain the number here). r7 window: the new/changed
    entries first (encoding_extract NEW X11 + encoding_sniff NEW X11b —
    charset transcode folded into every html kernel, identity on UTF-8
    input; page_metadata NEW X10; sitemap_entries NEW R19;
    cdx_index NEW L62; host_degree_stats NEW L63;
    semdedup_keep_capped NEW; semdedup_keep cap param;
    warc_ingest chunked/gzip body decode; robots_filter slim-frame +
    url_path; pdf_extract/pdf_metadata /Encrypt; temperature_sample
    replica None-lang; host_top_terms + pages_host_counts try_parse_url
    sweep), then 5 r6-new fill (one round old), then the FULL r6
    rotated-out 38-entry tail (VERDICT r06 #3/#4: pack_shards ..
    sessionize, last driver rows r5; 2 of the 38 sit in the r7 block) —
    exactly 50 at the cutoff (decontaminate; the r7-new insertions —
    four crawl-graph ops, then X11 ×2, warc_extract, warc_robots,
    warc_redirects, recrawl_diff, script_mix, wet_roundtrip,
    token_budget_sample — pushed embed_ann_ivf .. window_running_qty
    into the tail). Every r7 rotated-out entry (embed_ann_ivf,
    text_token_stats, bpe_token_stats,
    text_quality, lang_id, gopher_rules, hash_split,
    spans_tag_histogram, select_extract, outer_html_main,
    pages_dedup_latest, q1_pricing, revenue_by_nation,
    dsir_select .. extract_main_text) is driver-green in r6
    (CORRECTNESS_r06) or earlier, unchanged, and re-verified locally
    via check_contract each round. Keep this note current."""
    return {
        # --- r7: new / behavior-changed this round ---
        "encoding_extract": _q_encoding_extract,  # X11 transcode (NEW r7)
        "encoding_sniff": _q_encoding_sniff,  # X11b charset census (NEW r7)
        "page_metadata": _q_page_metadata,  # X10 head metadata (NEW r7)
        "sitemap_entries": _q_sitemap_entries,  # R19 sitemap parsing (NEW r7)
        "extract_links": _q_extract_links,  # X9 outlinks (NEW r7)
        "anchor_pairs": _q_anchor_pairs,  # X9b anchor-text pairs (NEW r7)
        "canonical_urls": _q_canonical_urls,  # L60 url canonicalization (NEW r7)
        "url_dedup_keep": _q_url_dedup_keep,  # L60b url-key dedup (NEW r7)
        "cdx_index": _q_cdx_index,  # L62 SURT capture index (NEW r7)
        "frontier_select": _q_frontier_select,  # L61 frontier policy (NEW r7)
        "robots_directives": _q_robots_directives,  # R18b politeness (NEW r7)
        "host_link_graph": _q_host_link_graph,  # L59a host edges (NEW r7)
        "host_degree_stats": _q_host_degree_stats,  # L63 degree features (NEW r7)
        "pagerank_hosts": _q_pagerank_hosts,  # L59b fixed-point PR (NEW r7)
        "semdedup_keep_capped": _q_semdedup_keep_capped,  # L57b hot-cell cap (NEW r7)
        "semdedup_keep": _q_semdedup_keep,  # L57 fn grew the cap param (r7)
        "warc_ingest": _q_warc_ingest,  # R17 + content_type passthrough (r7)
        "warc_extract": _q_warc_extract,  # R17b warc→mime→X11→text (NEW r7)
        "warc_robots": _q_warc_robots,  # R18c robots-from-crawl (NEW r7)
        "warc_redirects": _q_warc_redirects,  # R17c redirect map (NEW r7)
        "recrawl_diff": _q_recrawl_diff,  # L64 re-crawl change report (NEW r7)
        "script_mix": _q_script_mix,  # L65 script census (NEW r7)
        "wet_roundtrip": _q_wet_roundtrip,  # L66 WET export round trip (NEW r7)
        "token_budget_sample": _q_token_budget_sample,  # L67 mixing (NEW r7)
        "robots_filter": _q_robots_filter,  # R18 slim frame + url_path fix (r7)
        "pdf_extract": _q_pdf_extract,  # X8 /Encrypt detection (r7)
        "pdf_metadata": _q_pdf_metadata,  # X8b pdf_encrypted flag (r7)
        "temperature_sample": _q_temperature_sample,  # L56 replica None-lang fix (r7)
        "host_top_terms": _q_host_top_terms,  # L36 try_parse_url sweep (r7)
        "pages_host_counts": _q_pages_host_counts,  # try_parse_url sweep (r7)
        # --- r6-new fill (driver rows r6, one round old) ---
        "epoch_shuffle": _q_epoch_shuffle,  # L58 golden (xxh64)
        "paragraph_dedup_keep": _q_paragraph_dedup_keep,  # L54 Dolma
        "tf_idf_top_terms": _q_tf_idf_top_terms,  # L55
        "host_term_divergence": _q_host_term_divergence,  # L53 host KL
        "lm_perplexity": _q_lm_perplexity,  # L48 CCNet-style LM filter
        # --- r6 rotated-out tail back in (VERDICT r06 #3/#4; last driver
        # rows r5; all 38 re-verified locally in r6 by the judge) ---
        "pack_shards": _q_pack_shards,  # single-execution partitioning
        "extract_metrics_by_lang": _q_extract_metrics_by_lang,
        "select_counts": _q_select_counts,  # golden (sel_* battery)
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,  # golden (pure-py xxh64)
        "dedup_simhash": _q_dedup_simhash,  # golden (pure-py xxh64)
        "spans_array_ops": _q_spans_array_ops,  # golden (sel_all/tc_p)
        "dedup_exact_groups": _q_dedup_exact_groups,
        "dedup_exact_keep": _q_dedup_exact_keep,
        "dedup_jaccard_pairs": _q_dedup_jaccard_pairs,
        "dedup_embedding_pairs": _q_dedup_embedding_pairs,
        "dedup_minhash_keep": _q_dedup_minhash_keep,  # golden (union-find)
        "embed_cosine_topk": _q_embed_cosine_topk,
        "embed_batch_topk": _q_embed_batch_topk,
        "embed_ann_lsh": _q_embed_ann_lsh,  # golden (replayed planes)
        "decontaminate": _q_decontaminate,
        "embed_ann_ivf": _q_embed_ann_ivf,  # golden (replayed Lloyd fit)
        "text_token_stats": _q_text_token_stats,
        "bpe_token_stats": _q_bpe_token_stats,
        "text_quality": _q_text_quality,
        "lang_id": _q_lang_id,
        "gopher_rules": _q_gopher_rules,
        "hash_split": _q_hash_split,
        "spans_tag_histogram": _q_spans_tag_histogram,  # golden (tc_*)
        "select_extract": _q_select_extract,  # golden (se_*)
        "outer_html_main": _q_outer_html_main,  # golden (main_outer_html)
        "pages_dedup_latest": _q_pages_dedup_latest,
        "q1_pricing": _q_q1_pricing,
        "revenue_by_nation": _q_revenue_by_nation,
        "top_customers": _q_top_customers,
        "window_running_qty": _q_window_running_qty,
        "customers_without_orders": _q_customers_without_orders,
        "rollup_docs": _q_rollup_docs,
        "cube_events": _q_cube_events,
        # ---------------- 50-entry driver cutoff lands here ----------------
        # r7 rotated-out tail: driver-green in r6 (CORRECTNESS_r06),
        # unchanged; locally re-verified via tools/check_contract.py
        "json_props": _q_json_props,
        "events_daily": _q_events_daily,
        "sessionize": _q_sessionize,
        "dsir_select": _q_dsir_select,  # L52 Gumbel top-k resampling
        "stream_window_counts": _q_stream_window_counts,
        "stream_session_counts": _q_stream_session_counts,  # R16 session windows
        "asof_join_events": _q_asof_join_events,
        "asof_join_forward": _q_asof_join_forward,
        "set_ops_hosts": _q_set_ops_hosts,
        "pivot_orders": _q_pivot_orders,
        "topk_parts_per_brand": _q_topk_parts_per_brand,
        "repetition_features": _q_repetition_features,
        "compression_ratio": _q_compression_ratio,
        "pii_scrub": _q_pii_scrub,
        "url_normalize": _q_url_normalize,
        "paragraph_dedup": _q_paragraph_dedup,
        "bigram_topk": _q_bigram_topk,
        "doc_fingerprint": _q_fingerprint,
        "doc_winnow_fingerprint": _q_winnow_fingerprint,  # golden (pure-py xxh64)
        # multimodal: REAL pure-Python decodes, golden-oracled vs the
        # closed-form expectations of fixtures/gen_media.py
        "multimodal_image_features": _q_multimodal_image_features,
        "multimodal_image_resize": _q_multimodal_image_resize,
        "multimodal_audio_features": _q_multimodal_audio_features,
        "multimodal_frame_sample": _q_multimodal_frame_sample,
        "multimodal_image_near_dups": _q_multimodal_image_near_dups,
        "stratified_sample": _q_stratified_sample,
        "quality_score": _q_quality_score,
        "incremental_dedup": _q_incremental_dedup,
        "blocklist_filter": _q_blocklist_filter,
        "embed_near_pairs_lsh": _q_embed_near_pairs_lsh,  # golden (8x16 keys)
        "embed_near_dedup_keep": _q_embed_near_dedup_keep,  # golden (union-find)
        "host_quota": _q_host_quota,  # two-phase + salted pre-prune
        "boilerplate_line_removal": _q_boilerplate_line_removal,
        "ngram_repetition": _q_ngram_repetition,  # hash-gram 1-pass
        "substring_dedup_hashed": _q_substring_dedup_hashed,
        "dedup_simhash_wide": _q_dedup_simhash_wide,  # golden (Manku keys)
        "dedup_minhash_keep_star": _q_dedup_minhash_keep_star,  # golden
        "dsir_importance": _q_dsir_importance,  # L49 DSIR weights
        "dedup_lines_within_doc": _q_dedup_lines_within_doc,  # L50
        "c4_line_rules": _q_c4_line_rules,  # L51
        "substring_dedup": _q_substring_dedup,  # linear-gap reassembly
        "chunk_documents": _q_chunk_documents,  # blank-doc n_tokens=0
        "extract_main_text": _q_extract_main_text,
    }


# --------------------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    fx = _FIX_01
    # golden parquet for the xxhash64/hyperplane family, composed by the
    # independent pure-Python implementation (fixtures/gen_golden.py);
    # the driver compares at sf=0.01
    from fixtures.gen_golden import ensure_golden
    from fixtures.gen_media import ensure_media

    gold = ensure_golden("/root/testdata/sf0.01")
    media_gold = ensure_media()
    from fixtures.gen_pdfs import ensure_pdfs
    from fixtures.gen_robots import ensure_robots
    from fixtures.gen_warc import ensure_warc

    pdf_fx = ensure_pdfs()
    _warc_arch, warc_exp = ensure_warc()
    _robots_fx, robots_exp = ensure_robots()
    from fixtures.gen_links import ensure_links

    _links_pages, links_exp = ensure_links()
    from fixtures.gen_meta import ensure_meta

    _meta_pages, meta_exp = ensure_meta()
    from fixtures.gen_sitemaps import ensure_sitemaps

    _sm_maps, sm_exp = ensure_sitemaps()
    from fixtures.gen_encodings import ensure_encodings

    enc_fx = ensure_encodings()
    lang_scores = {
        "en": r"\b(the|and|of)\b",
        "de": r"\b(der|die|und)\b",
        "fr": r"\b(les|une|dans)\b",
        "es": r"\b(los|una|por)\b",
    }
    s = {
        k: f"len(regexp_extract_all(lower(text), '{p}'))"
        for k, p in lang_scores.items()
    }
    from fixtures.gen_pages import SELECT_EXTRACT_SELECTORS, SELECTOR_BATTERY, TAG_BATTERY

    sel_cols = ", ".join(k for k, _ in SELECTOR_BATTERY)
    tag_hist = " UNION ALL ".join(
        f"SELECT '{t}' AS tag, CAST(sum(tc_{t}) AS BIGINT) AS n "
        f"FROM read_parquet('{fx}')"
        for t in TAG_BATTERY
    )
    se_parts = []
    for sel, key in zip(
        SELECT_EXTRACT_SELECTORS, ("se_mainh1", "se_tabletd", "se_wrapp")
    ):
        se_parts.append(
            f"SELECT url, warc_ts, '{sel}' AS selector, {key}_n AS n_matches, "
            f"{key}_first AS first_text FROM read_parquet('{fx}')"
        )
    oracles = {
        # golden oracles: the fixture's text column IS the expected output
        "extract_main_text": f"SELECT url, warc_ts, text FROM read_parquet('{fx}')",
        # X11 charset normalization: expected text composed from the
        # logical lines; html serialized through each codec's encoder
        "encoding_extract": f"SELECT url, text FROM read_parquet('{enc_fx}')",
        "encoding_sniff": (
            f"SELECT url, encoding, source FROM read_parquet('{enc_fx}')"
        ),
        # X8 PDF leg: the fixture's independently composed text column IS
        # the byte-exact expectation (fixtures/gen_pdfs.py)
        # X9 outlinks: composition-first fixture expectation (targets
        # chosen first, href forms derived — gen_links.py never resolves)
        "extract_links": (
            f"SELECT url, pos, link_url FROM read_parquet('{links_exp}')"
        ),
        # R19 sitemap entries: composition-first fixture expectation
        # (records chosen first, payload forms derived — gen_sitemaps.py
        # never resolves/decodes/validates)
        "sitemap_entries": (
            "SELECT sitemap_url, pos, kind, loc, lastmod, changefreq, "
            f"priority FROM read_parquet('{sm_exp}')"
        ),
        # X10 page metadata: composition-first fixture expectation
        # (expected values chosen first, markup forms derived —
        # gen_meta.py never normalizes/decodes/resolves)
        # array_to_string gives NULL for an empty list, Spark's array_join ''
        "page_metadata": (
            "SELECT url, title, description, meta_robots, canonical_url, "
            "lang, charset, "
            + ", ".join(
                f"CASE WHEN {c} IS NULL THEN NULL "
                f"ELSE coalesce(array_to_string({c}, chr(31)), '') END AS {c}"
                for c in ("og_props", "og_values")
            )
            + f" FROM read_parquet('{meta_exp}')"
        ),
        # L60 url canonicalization: independent DuckDB regexp/list twin
        # of the pinned rule set (construction shared, rules re-derived)
        "canonical_urls": (
            f"WITH messy AS (SELECT doc_id, {_MESSY_URL_DUCK} AS url "
            f"FROM documents), parts AS (SELECT doc_id, {_CANON_DUCK} "
            f"FROM messy) SELECT doc_id, {_CANON_FINAL_DUCK} AS canon_url "
            f"FROM parts"
        ),
        "url_dedup_keep": (
            f"WITH messy AS (SELECT doc_id, {_MESSY_URL_DUCK} AS url "
            f"FROM documents), parts AS (SELECT doc_id, {_CANON_DUCK} "
            f"FROM messy), canon AS (SELECT doc_id, {_CANON_FINAL_DUCK} "
            f"AS canon_url FROM parts) "
            f"SELECT canon_url, MIN(doc_id) AS keep_id, "
            f"COUNT(*) AS n_variants FROM canon "
            f"WHERE canon_url IS NOT NULL GROUP BY canon_url"
        ),
        # L62 CDX index: the canonicalization twin extended with its own
        # SURT (list_reverse label join) + md5/octet_length — order
        # differences are invisible to the compare (it sorts), the SORT
        # shape is plan-asserted in tests/test_urls.py
        "cdx_index": (
            f"WITH messy AS (SELECT doc_id, text, {_MESSY_URL_DUCK} AS url "
            f"FROM documents), parts AS (SELECT doc_id, text, {_CANON_DUCK} "
            f"FROM messy), canon AS (SELECT doc_id, text, {_CANON_FINAL_DUCK} "
            f"AS canon_url FROM parts) "
            f"SELECT array_to_string(list_reverse(string_split("
            f"regexp_extract(canon_url, '^[a-z]+://([^/]+)', 1), '.')), ',') "
            f"|| ')' || regexp_replace(canon_url, '^[a-z]+://[^/]+', '') "
            f"AS urlkey, 1767225600 + doc_id AS ts, md5(text) AS digest, "
            f"CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes "
            f"FROM canon WHERE canon_url IS NOT NULL"
        ),
        # R18b politeness directives: by-construction fixture expectations
        "robots_directives": (
            f"SELECT host, crawl_delay, sitemaps FROM read_parquet("
            f"'{os.path.join(os.path.dirname(robots_exp), 'directives_expected.parquet')}')"
        ),
        # L61 frontier policy replayed over the composed links + the
        # pure-python PageRank expectation
        "frontier_select": (
            f"WITH cand AS (SELECT DISTINCT link_url AS url, "
            f"regexp_extract(link_url, 'https?://([^/]+)', 1) AS host "
            f"FROM read_parquet('{links_exp}')), "
            f"capped AS (SELECT url, host, "
            f"row_number() OVER (PARTITION BY host ORDER BY url) AS slot "
            f"FROM cand) "
            f"SELECT c.url, c.host, COALESCE(pr.rank_fp, 0) AS rank_fp, "
            f"c.slot FROM capped c LEFT JOIN read_parquet("
            f"'{os.path.join(os.path.dirname(links_exp), 'pagerank_expected.parquet')}') pr "
            f"ON c.host = pr.host WHERE c.slot <= 3 "
            f"ORDER BY rank_fp DESC, c.host, c.slot LIMIT 25"
        ),
        # X9b anchor pairs: the fixture composes each normalized anchor
        # text before deriving the embedded form
        "anchor_pairs": (
            f"SELECT url, pos, link_url, anchor_text "
            f"FROM read_parquet('{links_exp}')"
        ),
        # L59a host edges: regexp host extraction over the composed
        # links — independent of engine/links AND Spark's url parser
        "host_link_graph": (
            f"SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS src_host, "
            f"regexp_extract(link_url, 'https?://([^/]+)', 1) AS dst_host, "
            f"COUNT(*) AS n_links "
            f"FROM read_parquet('{links_exp}') GROUP BY 1, 2"
        ),
        # L63 degree features: same aggregates re-derived in DuckDB from
        # the composed expected links (regexp host extraction)
        "host_degree_stats": (
            f"WITH e AS (SELECT regexp_extract(url, 'https?://([^/]+)', 1) "
            f"AS src, regexp_extract(link_url, 'https?://([^/]+)', 1) AS dst, "
            f"COUNT(*) AS n FROM read_parquet('{links_exp}') GROUP BY 1, 2), "
            f"s AS (SELECT src AS host, COUNT(*) AS out_deg, SUM(n) AS "
            f"out_links, SUM(CASE WHEN src = dst THEN n ELSE 0 END) AS "
            f"self_links FROM e GROUP BY 1), "
            f"d AS (SELECT dst AS host, COUNT(*) AS in_deg, SUM(n) AS "
            f"in_links FROM e GROUP BY 1) "
            f"SELECT COALESCE(s.host, d.host) AS host, "
            f"CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg, "
            f"CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg, "
            f"CAST(COALESCE(out_links, 0) AS BIGINT) AS out_links, "
            f"CAST(COALESCE(in_links, 0) AS BIGINT) AS in_links, "
            f"CAST(COALESCE(self_links, 0) AS BIGINT) AS self_links "
            f"FROM s FULL OUTER JOIN d ON s.host = d.host"
        ),
        # L59b fixed-point PageRank: pure-python integer-spec replica
        # (gen_links.replica_pagerank) over the composed links
        "pagerank_hosts": (
            f"SELECT host, rank_fp FROM read_parquet("
            f"'{os.path.join(os.path.dirname(links_exp), 'pagerank_expected.parquet')}')"
        ),
        "pdf_extract": (
            f"SELECT pdf_id, text, n_pages FROM read_parquet('{pdf_fx}')"
        ),
        "pdf_metadata": (
            f"SELECT pdf_id, title, producer, creation_date, encrypted "
            f"FROM read_parquet('{pdf_fx}')"
        ),
        # R17 WARC ingest: fixture-composed rows ARE the expectation
        "warc_ingest": (
            f"SELECT url, warc_ts, n_bytes, html_md5, content_type, "
            f"http_status, redirect_location "
            f"FROM read_parquet('{warc_exp}')"
        ),
        # R17c redirect map: composed status + resolved-location fields
        "warc_redirects": (
            f"SELECT url, redirect_location, http_status "
            f"FROM read_parquet('{warc_exp}') "
            f"WHERE http_status BETWEEN 300 AND 399 "
            f"AND redirect_location IS NOT NULL"
        ),
        # R17b end-to-end: html-mime filter + transport-charset decode +
        # extraction; main_txt composed independently in gen_warc.py
        "warc_extract": (
            f"SELECT url, main_txt AS text FROM read_parquet('{warc_exp}') "
            f"WHERE is_html"
        ),
        # L67 token-budget mixing: xxh64 replica golden (sorted-order
        # single-division rates, same keep-hash)
        "token_budget_sample": (
            f"SELECT doc_id, source FROM read_parquet("
            f"'{os.path.join(gold, 'token_budget_sample.parquet')}')"
        ),
        # L66 WET round trip: the oracle is the source table — identity
        # over the full write→read cycle
        "wet_roundtrip": (
            "SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)"
            " AS url, coalesce(text, '') AS text FROM documents"
        ),
        # L65 script census: shared ranges/plants, DuckDB-generated twin
        "script_mix": _script_mix_oracle(),
        # L64 re-crawl diff: identical plants + full outer join replay
        "recrawl_diff": (
            "WITH old AS (SELECT doc_id, coalesce(text, '') AS t "
            "FROM documents WHERE doc_id % 13 != 5), "
            "new AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN "
            "coalesce(text, '') || ' re-crawl delta' ELSE "
            "coalesce(text, '') END AS t "
            "FROM documents WHERE doc_id % 11 != 3) "
            "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, "
            "CASE WHEN o.doc_id IS NULL THEN 'added' "
            "WHEN n.doc_id IS NULL THEN 'removed' "
            "WHEN md5(o.t) = md5(n.t) THEN 'unchanged' "
            "ELSE 'changed' END AS status, "
            "CASE WHEN o.doc_id IS NULL THEN NULL ELSE md5(o.t) END "
            "AS old_md5, "
            "CASE WHEN n.doc_id IS NULL THEN NULL ELSE md5(n.t) END "
            "AS new_md5, "
            "coalesce(length(n.t), 0) - coalesce(length(o.t), 0) "
            "AS len_delta "
            "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id"
        ),
        # R18c robots-from-crawl: latest capture per host wins (the
        # row_number window lives in the ORACLE only; the Spark side is
        # one map-side-combinable max_by)
        "warc_robots": (
            f"SELECT host, robots_md5 FROM ("
            f"SELECT host, robots_md5, row_number() OVER ("
            f"PARTITION BY host ORDER BY warc_ts DESC, robots_md5 DESC) AS rn "
            f"FROM read_parquet('{warc_exp}') WHERE is_robots) WHERE rn = 1"
        ),
        # R18 robots filtering: kept = the by-construction allowed set
        "robots_filter": (
            f"SELECT url FROM read_parquet('{robots_exp}') WHERE allowed"
        ),
        # selector battery / spans / serialization goldens — all composed
        # independently at fixture-gen time (fixtures/gen_pages.py)
        "select_counts": f"SELECT url, warc_ts, {sel_cols} FROM read_parquet('{fx}')",
        "spans_tag_histogram": tag_hist,
        "select_extract": " UNION ALL ".join(se_parts),
        "outer_html_main": (
            f"SELECT url, warc_ts, main_outer_html AS outer_html "
            f"FROM read_parquet('{fx}')"
        ),
        "spans_array_ops": (
            f"SELECT url, warc_ts, sel_all AS n_elements, tc_p AS n_p "
            f"FROM read_parquet('{fx}')"
        ),
        "extract_metrics_by_lang": (
            f"SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars "
            f"FROM read_parquet('{fx}') GROUP BY lang"
        ),
        "pages_dedup_latest": (
            f"SELECT url, warc_ts FROM read_parquet('{fx}') "
            "QUALIFY row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) = 1"
        ),
        "pages_host_counts": (
            "SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host, "
            f"count(*) AS n_pages FROM read_parquet('{fx}') GROUP BY 1"
        ),
        # relational
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "top_customers": """
            SELECT c_custkey, c_name, total_spent FROM (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
              FROM orders GROUP BY o_custkey
            ) t JOIN customer ON o_custkey = c_custkey
            ORDER BY total_spent DESC, c_custkey LIMIT 25
        """,
        "window_running_qty": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(sum(l_quantity) OVER (
                     PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_qty
            FROM lineitem WHERE l_suppkey <= 5
        """,
        "customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "rollup_docs": """
            SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "cube_events": """
            SELECT event_type,
                   (dayofweek(ts) IN (0, 6)) AS is_weekend,
                   count(*) AS n, round(sum(value), 3) AS total_value
            FROM events GROUP BY CUBE (event_type, (dayofweek(ts) IN (0, 6)))
        """,
        "dedup_embedding_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 150 AND b.vec_id < 150
              AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.3
        """,
        "json_props": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "events_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n, round(sum(value), 3) AS total_value
            FROM events GROUP BY 1
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM g
            )
            SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "stream_window_counts": """
            SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS ws,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "stream_session_counts": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM g
            )
            SELECT user_id,
                   CAST(floor(min(epoch(ts))) AS BIGINT) AS ss,
                   CAST(floor(max(epoch(ts))) + 1800 AS BIGINT) AS se,
                   count(*) AS n
            FROM s GROUP BY user_id, sid
        """,
        "asof_join_events": """
            WITH clicks AS (
              SELECT user_id, ts, event_id, round(value, 4) AS click_value
              FROM events WHERE event_type = 'click'
            ), views AS (
              SELECT user_id, ts, round(max(value), 4) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, c.click_value, v.view_value
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "asof_join_forward": """
            WITH clicks AS (
              SELECT user_id, ts, event_id, round(value, 4) AS click_value
              FROM events WHERE event_type = 'click'
            ), views AS (
              SELECT user_id, ts, round(max(value), 4) AS view_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, c.click_value, v.view_value
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts <= v.ts
        """,
        "set_ops_hosts": f"""
            WITH p AS (
              SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host, lang
              FROM read_parquet('{fx}')
            ),
            en AS (SELECT DISTINCT host FROM p WHERE lang = 'en'),
            de AS (SELECT DISTINCT host FROM p WHERE lang = 'de')
            SELECT host, 'both' AS which FROM (SELECT host FROM en INTERSECT SELECT host FROM de)
            UNION ALL
            SELECT host, 'en_only' AS which FROM (SELECT host FROM en EXCEPT ALL SELECT host FROM de)
        """,
        "pivot_orders": """
            SELECT o_orderpriority,
                   CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                   CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
            FROM orders GROUP BY o_orderpriority
        """,
        "topk_parts_per_brand": """
            SELECT p_brand,
                   CAST(row_number() OVER (PARTITION BY p_brand
                     ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rk,
                   p_partkey, p_retailprice
            FROM part
            QUALIFY rk <= 3
        """,
        # training-data ops (md5 and pure arithmetic are engine-identical)
        "dedup_exact_groups": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies,
                   min(doc_id) AS keeper
            FROM documents GROUP BY 1
        """,
        "dedup_exact_keep": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        """,
        "dedup_jaccard_pairs": r"""
            WITH t AS (
              SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tset
              FROM documents WHERE doc_id < 120
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.tset, b.tset))::DOUBLE
                         / len(list_distinct(list_concat(a.tset, b.tset))), 4) AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.tset, b.tset))::DOUBLE
                        / len(list_distinct(list_concat(a.tset, b.tset))), 4) >= 0.5
        """,
        "embed_cosine_topk": """
            WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings e, q WHERE e.vec_id != 0
            ORDER BY cosine DESC, e.vec_id LIMIT 20
        """,
        "embed_near_dedup_keep": (
            f"SELECT vec_id FROM "
            f"read_parquet('{os.path.join(gold, 'embed_keep.parquet')}')"
        ),
        "blocklist_filter": r"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text),
                         '\b(merge|skew|slow)\b')) AS hits,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                          END AS n_tokens
              FROM documents
            )
            SELECT doc_id, CAST(hits AS INT) AS blocklist_hits,
                   round(CASE WHEN n_tokens > 0
                         THEN hits::DOUBLE / n_tokens ELSE 0 END, 6)
                     AS hit_ratio,
                   CAST(round(CASE WHEN n_tokens > 0
                        THEN hits::DOUBLE / n_tokens ELSE 0 END, 6) > 0.02
                        AS INT) AS blocked
            FROM t
        """,
        "chunk_documents": r"""
            WITH base AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
              FROM documents
            ), n AS (
              SELECT doc_id, ts,
                     CAST(floor((greatest(len(ts) - 32, 0) + 15) / 16)
                          AS INT) + 1 AS nc
              FROM base
            ), c AS (
              SELECT doc_id, i AS chunk_idx,
                     ts[i * 16 + 1:i * 16 + 32] AS ct
              FROM n, unnest(range(0, nc)) AS u(i)
            )
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   array_to_string(ct, ' ') AS chunk_text,
                   -- blank docs: split('') is [''] -> 0 tokens (repo-wide
                   -- blank-has-zero-tokens convention, ADVICE r04)
                   CAST(CASE WHEN array_to_string(ct, ' ') = '' THEN 0
                        ELSE len(ct) END AS INT) AS chunk_n_tokens
            FROM c
        """,
        "pack_shards": r"""
            WITH base AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY doc_id) AS cum
              FROM base
            )
            SELECT doc_id, n_tokens,
                   CAST(floor((cum - n_tokens) / 2000) AS INT) AS shard_id
            FROM c
        """,
        "incremental_dedup": (
            f"SELECT doc_id FROM "
            f"read_parquet('{os.path.join(gold, 'incremental_dedup.parquet')}')"
        ),
        "quality_score": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS stop_hits
              FROM documents
            ), f AS (
              SELECT doc_id, n_tokens,
                     round(CASE WHEN n_tokens > 0
                           THEN (n_chars - (n_tokens - 1))::DOUBLE / n_tokens
                           ELSE 0 END, 4) AS avg_word_len,
                     round(CASE WHEN n_chars > 0
                           THEN alpha_chars::DOUBLE / n_chars ELSE 0 END, 4)
                       AS alpha_ratio,
                     round(CASE WHEN n_tokens > 0
                           THEN stop_hits::DOUBLE / n_tokens ELSE 0 END, 4)
                       AS stopword_ratio
              FROM t
            ), s AS (
              SELECT doc_id,
                     round(1.0 / (1.0 + exp(-(
                       -3.0 + 0.35 * ln(1 + n_tokens)
                             + 2.0 * alpha_ratio
                             + 4.0 * stopword_ratio
                             + (-0.5) * abs(avg_word_len - 5.0)))), 6)
                       AS quality_score
              FROM f
            )
            SELECT doc_id, quality_score,
                   CAST(quality_score >= 0.5 AS INT) AS quality_pass
            FROM s
        """,
        "substring_dedup": r"""
            WITH base AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
              FROM documents
            ), g AS (
              SELECT doc_id, i AS gpos,
                     array_to_string(ts[i + 1:i + 8], ' ') AS gram
              FROM base, unnest(range(0, greatest(len(ts) - 7, 0))) AS u(i)
            ), ranked AS (
              SELECT doc_id, gpos,
                     row_number() OVER (
                       PARTITION BY gram ORDER BY doc_id, gpos) AS rn
              FROM g
            ), cov AS (
              SELECT DISTINCT doc_id, gpos + j AS tpos
              FROM ranked, unnest(range(0, 8)) AS v(j)
              WHERE rn > 1
            ), toks AS (
              SELECT doc_id, i AS tpos, ts[i + 1] AS tok
              FROM base, unnest(range(0, len(ts))) AS u(i)
            ), kept AS (
              SELECT t.doc_id, t.tpos, t.tok
              FROM toks t
              LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.tpos = cov.tpos
              WHERE cov.tpos IS NULL
            ), re AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY tpos) AS text_dedup,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT b.doc_id,
                   coalesce(re.text_dedup, '') AS text_dedup,
                   CAST(len(b.ts) AS INT) AS n_tokens,
                   CAST(len(b.ts) - coalesce(re.n_kept, 0) AS INT)
                     AS n_removed
            FROM base b LEFT JOIN re USING (doc_id)
        """,
        "dedup_lines_within_doc": r"""
            WITH base AS (
              SELECT doc_id,
                     string_split(
                       text || chr(10) || chr(10) || text || chr(10) || text,
                       chr(10)) AS ls
              FROM documents
            ), l AS (
              SELECT doc_id, i AS pos, ls[i + 1] AS line
              FROM base, unnest(range(0, len(ls))) AS u(i)
            ), r AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (
                       PARTITION BY doc_id, line ORDER BY pos) AS rn
              FROM l
            ), k AS (
              SELECT doc_id, pos, line FROM r WHERE rn = 1 OR line = ''
            ), agg AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM k GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(a.text_clean, '') AS text_clean,
                   CAST(len(b.ls) AS INT) AS n_lines,
                   CAST(len(b.ls) - coalesce(a.n_kept, 0) AS INT) AS n_removed
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "c4_line_rules": r"""
            WITH synth AS (
              SELECT doc_id,
                     text || '.' || chr(10) ||
                     'enable javascript please now okay.' || chr(10) ||
                     split_part(trim(text), ' ', 1) || '.' || chr(10) ||
                     text || ' indeed?' AS text
              FROM documents
            ), base AS (
              SELECT doc_id, text, string_split(text, chr(10)) AS ls
              FROM synth
            ), l AS (
              SELECT doc_id, i AS pos, ls[i + 1] AS line
              FROM base, unnest(range(0, len(ls))) AS u(i)
            ), kl AS (
              SELECT doc_id, pos, line FROM l
              WHERE (CASE WHEN length(trim(line)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(line), '\s+')) END) >= 3
                AND regexp_matches(rtrim(line), '[.!?"]$')
                AND NOT contains(lower(line), 'javascript')
            ), agg AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM kl GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(a.text_clean, '') AS text_clean,
                   CAST(coalesce(a.n_kept, 0) AS INT) AS n_lines_kept,
                   CAST(coalesce(a.n_kept, 0) >= 2
                        AND NOT contains(lower(b.text), 'lorem ipsum')
                        AND NOT contains(b.text, '{') AS INT) AS page_kept
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "lm_perplexity": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\s+')
                     END AS ts
              FROM documents
            ), bg AS (
              SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
              FROM toks, unnest(range(1, len(ts))) AS u(i)
              WHERE len(ts) >= 2
            ), c2 AS (
              SELECT w1, w2, count(*) AS c2
              FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2
            ), c1 AS (
              SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1
            ), vv AS (
              SELECT count(DISTINCT tok) + 1 AS v
              FROM (SELECT unnest(ts) AS tok FROM toks WHERE doc_id % 10 = 0)
            ), lp AS (
              SELECT b.doc_id,
                     ln(coalesce(c2.c2, 0) + 1.0)
                       - ln(coalesce(c1.c1, 0) + 1.0 * (SELECT v FROM vv))
                       AS logp
              FROM bg b
              LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
              LEFT JOIN c1 ON b.w1 = c1.w1
            )
            SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                   round(exp(-sum(logp) / count(*)), 4) AS bigram_ppl
            FROM lp GROUP BY doc_id
        """,
        "dsir_importance": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\s+')
                     END AS ts
              FROM documents
            ), u AS (
              SELECT doc_id, unnest(ts) AS tok FROM toks
            ), ct AS (
              SELECT tok, count(*) AS c FROM u WHERE doc_id % 10 = 0
              GROUP BY 1
            ), cr AS (
              SELECT tok, count(*) AS c FROM u GROUP BY 1
            ), ft AS (
              SELECT coalesce(ct.tok, cr.tok) AS tok,
                     coalesce(ct.c, 0) AS ct, coalesce(cr.c, 0) AS cr
              FROM ct FULL JOIN cr ON ct.tok = cr.tok
            ), tot AS (
              SELECT count(*) + 1 AS v, sum(ct) AS nt, sum(cr) AS nr FROM ft
            ), lw AS (
              SELECT u.doc_id,
                     ln(f.ct + 1.0) - ln(t.nt + t.v)
                       - ln(f.cr + 1.0) + ln(t.nr + t.v) AS w
              FROM u JOIN ft f ON u.tok = f.tok CROSS JOIN tot t
            )
            SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
                   round(sum(w), 4) AS log_importance
            FROM lw GROUP BY doc_id
        """,
        "decontaminate": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
              FROM documents
            ), all_grams AS (
              -- docs with < 8 tokens emit NO grams (cannot match at n=8),
              -- matching the Spark side's empty-array guard
              SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
              FROM toks, unnest(range(1, len(ts) - 6)) AS u(i)
              WHERE len(ts) >= 8
            ), eval_grams AS (
              SELECT DISTINCT gram FROM all_grams WHERE doc_id < 5
            ), hits AS (
              SELECT doc_id, count(DISTINCT gram) AS n_hits
              FROM all_grams WHERE gram IN (SELECT gram FROM eval_grams)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(h.n_hits, 0) > 0 AS INTEGER)
                     AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "boilerplate_line_removal": f"""
            WITH base AS (
              SELECT url, warc_ts, string_split(text, chr(10)) AS lines
              FROM read_parquet('{fx}')
            ), ex AS (
              SELECT url, warc_ts, i AS pos, lines[i] AS line
              FROM base, unnest(range(1, len(lines) + 1)) AS u(i)
            ), freq AS (
              -- empty lines are never boilerplate (blank-line structure
              -- must survive removal; mirrors the Spark-side filter)
              SELECT line FROM ex WHERE line <> '' GROUP BY line
              HAVING count(DISTINCT url) >= 3
            ), kept AS (
              SELECT url, warc_ts, pos, line FROM ex
              WHERE line NOT IN (SELECT line FROM freq)
            ), re AS (
              SELECT url, warc_ts,
                     string_agg(line, chr(10) ORDER BY pos) AS text_clean,
                     count(*) AS kept
              FROM kept GROUP BY url, warc_ts
            )
            SELECT b.url, b.warc_ts,
                   coalesce(re.text_clean, '') AS text_clean,
                   CAST(len(b.lines) - coalesce(re.kept, 0) AS INT)
                     AS n_removed
            FROM base b LEFT JOIN re USING (url, warc_ts)
        """,
        "host_top_terms": f"""
            WITH t AS (
              SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM read_parquet('{fx}')
            ), c AS (
              SELECT host, term, count(*) AS n FROM t
              WHERE length(term) >= 4 GROUP BY host, term
            )
            SELECT host, term, n,
                   CAST(row_number() OVER (
                     PARTITION BY host ORDER BY n DESC, term) AS INT) AS rk
            FROM c QUALIFY rk <= 5
        """,
        # L54 corpus-level paragraph dedup, first-occurrence keep: the
        # global keeper of a duplicated non-empty paragraph is its min
        # (doc_id, pos) occurrence; blank paragraphs always survive
        "paragraph_dedup_keep": """
            WITH aug AS (
              SELECT doc_id,
                     CASE
                       WHEN doc_id % 7 = 0 THEN text || chr(10) ||
                         'cookie banner accept all' || chr(10) || chr(10) ||
                         'site footer nav'
                       WHEN doc_id % 11 = 0 THEN text || chr(10) ||
                         'site footer nav'
                       ELSE text
                     END AS text
              FROM documents
            ), base AS (
              SELECT doc_id, string_split(text, chr(10)) AS paras
              FROM aug
            ), ex AS (
              SELECT doc_id, i AS pos, paras[i] AS para
              FROM base, unnest(range(1, len(paras) + 1)) AS u(i)
            ), r AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (
                       PARTITION BY para ORDER BY doc_id, pos) AS rn
              FROM ex WHERE para <> ''
            ), k AS (
              SELECT doc_id, pos, para FROM r WHERE rn = 1
              UNION ALL
              SELECT doc_id, pos, para FROM ex WHERE para = ''
            ), agg AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM k GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(a.text_clean, '') AS text_clean,
                   CAST(len(b.paras) AS INT) AS n_paras,
                   CAST(len(b.paras) - coalesce(a.n_kept, 0) AS INT)
                     AS n_removed
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        # L55 per-doc TF-IDF top-k (smoothed sklearn idf), same
        # tokenization as host_top_terms
        "tf_idf_top_terms": """
            WITH t AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM t
              WHERE length(term) >= 4 GROUP BY doc_id, term
            ), dft AS (
              SELECT term, count(*) AS dfreq FROM tf GROUP BY term
            ), n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, term, tf,
                   round(tf * (ln((1 + n_docs) / (1 + dfreq)) + 1), 4)
                     AS tfidf,
                   CAST(row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY round(tf * (ln((1 + n_docs) / (1 + dfreq)) + 1), 4)
                       DESC, term) AS INT) AS rk
            FROM tf JOIN dft USING (term) CROSS JOIN n
            QUALIFY rk <= 3
        """,
        "embed_batch_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding FROM embeddings
              WHERE vec_id IN (0, 1, 2, 3, 4)
            )
            SELECT q.query_id, e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]), 6)
                     AS cosine
            FROM embeddings e, q WHERE e.vec_id != q.query_id
            QUALIFY row_number() OVER (
              PARTITION BY q.query_id ORDER BY cosine DESC, e.vec_id) <= 10
        """,
        "ngram_repetition": f"""
            WITH base AS (
              SELECT url, warc_ts, length(text) AS n_chars,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM read_parquet('{fx}')
            ), g2 AS (
              SELECT url, warc_ts, ts[i] || ' ' || ts[i + 1] AS gram
              FROM base, unnest(range(1, len(ts))) AS u(i)
              WHERE len(ts) >= 2
            ), c2 AS (
              SELECT url, warc_ts, gram, count(*) AS cnt
              FROM g2 GROUP BY url, warc_ts, gram
            ), top2 AS (
              SELECT url, warc_ts, cnt * length(gram) AS mass FROM c2
              QUALIFY row_number() OVER (
                PARTITION BY url, warc_ts
                ORDER BY cnt DESC, cnt * length(gram) DESC, gram) = 1
            ), dup2 AS (
              SELECT url, warc_ts, sum(cnt * length(gram)) AS mass FROM c2
              WHERE cnt >= 2 GROUP BY url, warc_ts
            ), g3 AS (
              SELECT url, warc_ts,
                     ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS gram
              FROM base, unnest(range(1, len(ts) - 1)) AS u(i)
              WHERE len(ts) >= 3
            ), c3 AS (
              SELECT url, warc_ts, gram, count(*) AS cnt
              FROM g3 GROUP BY url, warc_ts, gram
            ), top3 AS (
              SELECT url, warc_ts, cnt * length(gram) AS mass FROM c3
              QUALIFY row_number() OVER (
                PARTITION BY url, warc_ts
                ORDER BY cnt DESC, cnt * length(gram) DESC, gram) = 1
            ), dup3 AS (
              SELECT url, warc_ts, sum(cnt * length(gram)) AS mass FROM c3
              WHERE cnt >= 2 GROUP BY url, warc_ts
            )
            SELECT DISTINCT base.url,
                   round(CASE WHEN n_chars > 0
                         THEN coalesce(top2.mass, 0)::DOUBLE / n_chars
                         ELSE 0 END, 4) AS top2_char_frac,
                   round(CASE WHEN n_chars > 0
                         THEN coalesce(dup2.mass, 0)::DOUBLE / n_chars
                         ELSE 0 END, 4) AS dup2_char_frac,
                   round(CASE WHEN n_chars > 0
                         THEN coalesce(top3.mass, 0)::DOUBLE / n_chars
                         ELSE 0 END, 4) AS top3_char_frac,
                   round(CASE WHEN n_chars > 0
                         THEN coalesce(dup3.mass, 0)::DOUBLE / n_chars
                         ELSE 0 END, 4) AS dup3_char_frac
            FROM base
            LEFT JOIN top2 USING (url, warc_ts)
            LEFT JOIN dup2 USING (url, warc_ts)
            LEFT JOIN top3 USING (url, warc_ts)
            LEFT JOIN dup3 USING (url, warc_ts)
        """,
        "text_token_stats": r"""
            WITH t AS (
              SELECT lang, CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(string_split_regex(trim(text), '\s+')) END
                     AS n_tokens
              FROM documents
            )
            SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(n_tokens), 4) AS avg_tokens
            FROM t GROUP BY lang ORDER BY lang
        """,
        "bpe_token_stats": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS ws_tokens,
                     len(regexp_extract_all(text,
                       '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 '']+'))
                       AS bpe_tokens
              FROM documents
            )
            SELECT doc_id, CAST(ws_tokens AS BIGINT) AS ws_tokens,
                   CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
                   round(CASE WHEN ws_tokens > 0
                         THEN bpe_tokens::DOUBLE / ws_tokens ELSE 0 END, 4)
                     AS pieces_per_word
            FROM t
        """,
        "text_quality": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS stop_hits
              FROM documents
            )
            SELECT doc_id, n_tokens, n_chars,
                   round(CASE WHEN n_tokens > 0
                         THEN (n_chars - (n_tokens - 1))::DOUBLE / n_tokens
                         ELSE 0 END, 4) AS avg_word_len,
                   round(CASE WHEN n_chars > 0
                         THEN alpha_chars::DOUBLE / n_chars ELSE 0 END, 4) AS alpha_ratio,
                   round(CASE WHEN n_tokens > 0
                         THEN stop_hits::DOUBLE / n_tokens ELSE 0 END, 4) AS stopword_ratio,
                   CASE WHEN n_tokens >= 50 AND
                             round(CASE WHEN n_tokens > 0
                                   THEN stop_hits::DOUBLE / n_tokens ELSE 0 END, 4) >= 0.05
                        THEN 'high'
                        WHEN n_tokens >= 10 THEN 'mid' ELSE 'low' END AS quality_bucket
            FROM t
        """,
        "gopher_rules": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_words,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE coalesce(list_sum(list_transform(
                            string_split_regex(trim(text), '\s+'),
                            w -> length(w))), 0) END AS word_chars,
                     string_split(text, chr(10)) AS lines,
                     len(regexp_extract_all(text, '(#|\.\.\.|…)')) AS syms,
                     len(regexp_extract_all(lower(text),
                       '\b(the|be|to|of|and|that|have|with)\b')) AS stop_hits,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(list_filter(
                            string_split_regex(trim(text), '\s+'),
                            w -> regexp_matches(w, '[A-Za-z]'))) END
                       AS alpha_words
              FROM documents
            ), f AS (
              SELECT doc_id, n_words,
                     round(CASE WHEN n_words > 0
                           THEN word_chars::DOUBLE / n_words ELSE 0 END, 4)
                       AS mean_word_len,
                     round(CASE WHEN n_words > 0
                           THEN syms::DOUBLE / n_words ELSE 0 END, 4)
                       AS symbol_word_ratio,
                     round(len(list_filter(lines,
                       l -> regexp_matches(l, '^[\t ]*[-*•]')))::DOUBLE
                       / len(lines), 4) AS bullet_line_frac,
                     round(len(list_filter(lines,
                       l -> regexp_matches(l, '(\.\.\.|…)$')))::DOUBLE
                       / len(lines), 4) AS ellipsis_line_frac,
                     round(CASE WHEN n_words > 0
                           THEN alpha_words::DOUBLE / n_words ELSE 0 END, 4)
                       AS alpha_word_frac,
                     stop_hits
              FROM t
            )
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
                   symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
                   alpha_word_frac, CAST(stop_hits AS BIGINT) AS stopword_hits,
                   CAST(n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND symbol_word_ratio <= 0.1
                        AND bullet_line_frac <= 0.9
                        AND ellipsis_line_frac <= 0.3
                        AND alpha_word_frac >= 0.8
                        AND stop_hits >= 2 AS INTEGER) AS passes
            FROM f
        """,
        "lang_id": f"""
            SELECT doc_id,
                   {s['en']} AS s_en, {s['de']} AS s_de,
                   {s['fr']} AS s_fr, {s['es']} AS s_es,
                   CASE WHEN {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']}
                             AND {s['en']} >= {s['es']} THEN 'en'
                        WHEN {s['de']} >= {s['fr']} AND {s['de']} >= {s['es']} THEN 'de'
                        WHEN {s['fr']} >= {s['es']} THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
            FROM documents
        """,
        "hash_split": (
            f"SELECT doc_id, split FROM "
            f"read_parquet('{os.path.join(gold, 'hash_split.parquet')}')"
        ),
        "stratified_sample": (
            f"SELECT doc_id, lang FROM "
            f"read_parquet('{os.path.join(gold, 'stratified_sample.parquet')}')"
        ),
        # L56 temperature-rebalanced multilingual sample: rates + keep
        # hash replayed by the pure-Python replica
        "temperature_sample": (
            f"SELECT doc_id, lang FROM "
            f"read_parquet('{os.path.join(gold, 'temperature_sample.parquet')}')"
        ),
        # L57 SemDeDup keep set: Lloyd fit + assignment + fold-order
        # cosine + keep-lowest-id rule replayed by the pure-Python replica
        "semdedup_keep": (
            f"SELECT vec_id, ivf_cell FROM "
            f"read_parquet('{os.path.join(gold, 'semdedup_keep.parquet')}')"
        ),
        # L57b hot-cluster-capped mode (VERDICT r06 #6): cells above the
        # cap skip the pairwise pass, members all kept — replica applies
        # the identical rule (cap 35 excludes 4/16 cells at sf0.01)
        "semdedup_keep_capped": (
            f"SELECT vec_id, ivf_cell FROM "
            f"read_parquet('{os.path.join(gold, 'semdedup_keep_capped.parquet')}')"
        ),
        # L58 epoch shuffle: chained-seed shard + order replayed by the
        # pure-Python replica
        "epoch_shuffle": (
            f"SELECT doc_id, shard, pos FROM "
            f"read_parquet('{os.path.join(gold, 'epoch_shuffle.parquet')}')"
        ),
        "host_quota": f"""
            SELECT url, warc_ts FROM (
              SELECT url, warc_ts,
                     row_number() OVER (
                       PARTITION BY regexp_extract(url, 'https?://([^/]+)', 1)
                       ORDER BY warc_ts, url) AS rn
              FROM read_parquet('{fx}')
            ) WHERE rn <= 300
        """,
        "repetition_features": f"""
            WITH base AS (
              SELECT url, text, string_split(text, chr(10)) AS lines
              FROM read_parquet('{fx}')
            ), f AS (
              SELECT url,
                     CAST(len(lines) AS INTEGER) AS n_lines,
                     round(1 - len(list_distinct(lines))::DOUBLE / len(lines), 4)
                       AS dup_line_frac,
                     round(CASE WHEN length(text) > 0 THEN
                       coalesce(list_sum(list_transform(
                         list_filter(lines,
                           L -> len(list_filter(lines, x -> x = L)) >= 2),
                         L2 -> length(L2))), 0)::DOUBLE / length(text)
                       ELSE 0 END, 4) AS dup_line_char_frac
              FROM base
            )
            SELECT DISTINCT url, n_lines, dup_line_frac, dup_line_char_frac
            FROM f
        """,
        "compression_ratio": (
            f"SELECT doc_id, n_chars, zlib_ratio FROM "
            f"read_parquet('{os.path.join(gold, 'compression_ratio.parquet')}')"
        ),
        "pii_scrub": r"""
            WITH inj AS (
              SELECT doc_id,
                     concat(text, ' mail user', CAST(doc_id AS VARCHAR),
                            '@ex-a.mple.org call +44 555 ',
                            lpad(CAST(doc_id AS VARCHAR), 4, '0')) AS text
              FROM documents
            ), e AS (
              SELECT doc_id,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS s1,
                     len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_emails
              FROM inj
            )
            SELECT doc_id,
                   regexp_replace(s1, '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,6}',
                                  '<PHONE>', 'g') AS scrubbed,
                   CAST(n_emails AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(s1,
                     '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,6}')) AS BIGINT)
                     AS n_phones
            FROM e
        """,
        "url_normalize": f"""
            WITH u AS (SELECT DISTINCT url FROM read_parquet('{fx}')),
            m AS (
              SELECT concat('HTTP://',
                            upper(regexp_extract(url, 'https?://([^/]+)', 1)),
                            ':80',
                            regexp_extract(url, 'https?://[^/]+(/.*)$', 1),
                            '/#frag') AS url
              FROM u
            ), s AS (
              SELECT url, regexp_replace(url, '#.*$', '') AS nf FROM m
            ), h AS (
              SELECT url, nf,
                     regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)
                       AS head
              FROM s
            )
            SELECT url,
                   concat(regexp_replace(lower(head), ':(80|443)$', ''),
                          regexp_replace(substring(nf, length(head) + 1),
                                         '/$', '')) AS norm_url
            FROM h
        """,
        "paragraph_dedup": f"""
            WITH e AS (
              SELECT url, unnest(string_split(text, chr(10))) AS para
              FROM read_parquet('{fx}')
            )
            SELECT md5(para) AS para_hash,
                   count(DISTINCT url) AS n_docs,
                   count(*) AS n_occurrences
            FROM e WHERE length(para) > 0
            GROUP BY 1 HAVING count(DISTINCT url) >= 2
        """,
        "bigram_topk": r"""
            WITH toks AS (
              SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
              FROM documents
            ), b AS (
              SELECT ts[i] || ' ' || ts[i + 1] AS bigram
              FROM toks, unnest(range(1, len(ts))) AS u(i)
              WHERE len(ts) >= 2
            )
            SELECT bigram, count(*) AS n FROM b
            GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
        """,
        # golden oracles: expected outputs composed by the independent
        # pure-Python xxh64/winnow/minhash/simhash/LSH implementations in
        # fixtures/gen_golden.py (public algorithms, no Spark involved)
        "dedup_minhash_lsh": (
            f"SELECT id_a, id_b, jaccard FROM "
            f"read_parquet('{os.path.join(gold, 'minhash_lsh_pairs.parquet')}')"
        ),
        "dedup_simhash": (
            f"SELECT id_a, id_b, hamming FROM "
            f"read_parquet('{os.path.join(gold, 'simhash_pairs.parquet')}')"
        ),
        "dedup_minhash_keep": (
            f"SELECT doc_id FROM "
            f"read_parquet('{os.path.join(gold, 'minhash_keep.parquet')}')"
        ),
        "doc_winnow_fingerprint": (
            f"SELECT doc_id, n_grams, n_selected, winnow_fp FROM "
            f"read_parquet('{os.path.join(gold, 'winnow_fingerprint.parquet')}')"
        ),
        "embed_ann_lsh": (
            f"SELECT vec_id, cosine FROM "
            f"read_parquet('{os.path.join(gold, 'ann_lsh_topk.parquet')}')"
        ),
        "embed_ann_ivf": (
            f"SELECT vec_id, cosine FROM "
            f"read_parquet('{os.path.join(gold, 'ann_ivf_topk.parquet')}')"
        ),
        "embed_near_pairs_lsh": (
            f"SELECT id_a, id_b, cosine FROM "
            f"read_parquet('{os.path.join(gold, 'lsh_near_pairs.parquet')}')"
        ),
        "multimodal_image_features": (
            f"SELECT media_id, width, height, mean_r, mean_g, mean_b, "
            f"phash, decoder FROM read_parquet('{os.path.join(media_gold, 'image_features_expected.parquet')}')"
        ),
        "multimodal_image_near_dups": f"""
            WITH f AS (
              SELECT media_id, phash
              FROM read_parquet(
                '{os.path.join(media_gold, "image_features_expected.parquet")}')
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM f a JOIN f b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 3
        """,
        "multimodal_image_resize": (
            f"SELECT media_id, out_w, out_h, resized_md5, decoder FROM "
            f"read_parquet('{os.path.join(media_gold, 'image_resize_expected.parquet')}')"
        ),
        "multimodal_audio_features": (
            f"SELECT media_id, sample_rate, n_samples, rms, decoder FROM "
            f"read_parquet('{os.path.join(media_gold, 'audio_features_expected.parquet')}')"
        ),
        "multimodal_frame_sample": (
            f"SELECT media_id, frame_idx, frame_mean, frame_bytes FROM "
            f"read_parquet('{os.path.join(media_gold, 'frames_expected.parquet')}')"
        ),
    }
    # at-scale config twins: identical expected output, same oracle —
    # hash_grams is collision-free at sf0.01; the Manku wide-key config's
    # recall guarantee makes its pair set equal the default's golden
    oracles["substring_dedup_hashed"] = oracles["substring_dedup"]
    oracles["dedup_simhash_wide"] = oracles["dedup_simhash"]
    oracles["dedup_minhash_keep_star"] = oracles["dedup_minhash_keep"]
    # DSIR selection composes the scoring twin with the same deterministic
    # Lehmer-LCG Gumbel arithmetic (temperature 1.0)
    oracles["dsir_select"] = f"""
        WITH w AS ({oracles['dsir_importance']})
        SELECT doc_id, n_tokens, log_importance,
               round(log_importance
                     + (-ln(-ln((((doc_id * 48271) % 2147483647) + 0.5)
                                / 2147483647))), 4) AS sel_score
        FROM w
        ORDER BY sel_score DESC, doc_id
        LIMIT 100
    """
    oracles["host_term_divergence"] = f"""
        WITH toks AS (
          SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host,
                 CASE WHEN length(trim(text)) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\\s+')
                 END AS ts
          FROM read_parquet('{fx}')
        ), hc AS (
          SELECT host, unnest(ts) AS tok FROM toks
        ), c AS (
          SELECT host, tok, count(*) AS c FROM hc GROUP BY 1, 2
        ), cc AS (
          SELECT tok, sum(c) AS cc FROM c GROUP BY 1
        ), nh AS (
          SELECT host, sum(c) AS nh FROM c GROUP BY 1
        ), nc AS (
          SELECT sum(cc) AS nc FROM cc
        )
        SELECT c.host, CAST(max(nh.nh) AS BIGINT) AS n_tokens,
               round(sum((c.c / nh.nh)
                         * (ln(c.c / nh.nh) - ln(cc.cc / nc.nc))), 4)
                 AS kl_divergence
        FROM c
        JOIN cc USING (tok) JOIN nh USING (host) CROSS JOIN nc
        GROUP BY c.host
        HAVING CAST(max(nh.nh) AS BIGINT) >= 50
    """
    return oracles
