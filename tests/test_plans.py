"""Physical-plan assertions (SURVEY.md §4.2): the optimizations we rely on
at 100 TB must actually appear in the plan — predicate pushdown, column
pruning, partition pruning, broadcast joins, bucketed (Exchange-free) joins,
whole-stage codegen for the pure-expression operators."""

import pytest
from pyspark.sql import functions as F

from fixtures.gen_pages import ensure_pages
from htmld_spark.pipeline.session import get_spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        master="local[4]",
        app_name="pytest_plans",
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    pages = spark.read.parquet(ensure_pages("0.001"))
    df = pages.filter(F.col("lang") == "en").select("url")
    p = plan_of(df)
    assert "PushedFilters" in p and "lang" in p.split("PushedFilters")[1][:120]


def test_column_pruning(spark):
    pages = spark.read.parquet(ensure_pages("0.001"))
    df = pages.select("url", "lang")
    p = plan_of(df)
    rs = p.split("ReadSchema")[1][:200]
    assert "url" in rs and "html" not in rs  # the 1 MiB blobs never leave disk


def test_broadcast_join_small_dim(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    df = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).groupBy(
        "s_name"
    ).count()
    assert "BroadcastHashJoin" in plan_of(df)


def test_partition_pruning_on_bucketed_output(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pruned")) + "/t"
    pages = spark.read.parquet(ensure_pages("0.001")).limit(200)
    (
        pages.select("url")
        .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))
        .write.partitionBy("bucket")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("bucket") == 3)
    # the bucket predicate must land in PartitionFilters (scan-time pruning,
    # no data filter) — this is what makes resume's bucket skipping free
    scan = plan_of(df)
    pf = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf and "= 3" in pf
    assert "PushedFilters: []" in scan  # not a data filter


def test_ingest_reference_scan_prunes_buckets(spark, tmp_path_factory):
    """VERDICT r04 #3: the streaming-ingest kept corpus is partitioned by
    (epoch_id, _bucket) and the per-epoch anti-join filters the reference
    scan to the batch's bucket set — that filter must land in
    PartitionFilters (scan-time directory pruning), so a mature corpus is
    read ∝ |batch buckets| / n_buckets, not whole."""
    from htmld_spark.streaming.stream_job import ingest_epoch

    out = str(tmp_path_factory.mktemp("ingest_prune")) + "/data"
    b0 = spark.createDataFrame(
        [(f"u{i}", f"text number {i} body") for i in range(20)],
        "url string, text string",
    )
    ingest_epoch(spark, b0, 0, out, n_buckets=8)
    # the exact shape ingest_epoch builds for its reference side
    df = (
        spark.read.parquet(out)
        .filter(F.col("epoch_id") != 1)
        .filter(F.col("_bucket").isin([2, 5]))
    )
    scan = plan_of(df)
    pf = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "_bucket" in pf and "epoch_id" in pf
    assert "PushedFilters: []" in scan  # partition-only, no data filter


def test_bucketed_join_has_no_exchange(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # force a sort-merge join so the bucketed layout (not a broadcast) is
    # what eliminates the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    (
        docs.write.mode("overwrite")
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .saveAsTable("docs_bucketed_a")
    )
    (
        docs.selectExpr("doc_id", "n_chars")
        .write.mode("overwrite")
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .saveAsTable("docs_bucketed_b")
    )
    a = spark.table("docs_bucketed_a")
    b = spark.table("docs_bucketed_b")
    joined = a.join(b, "doc_id")
    p = plan_of(joined)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange" not in p  # co-located bucketed join: shuffle-free
    assert "SortMergeJoin" in p and "Bucketed: true" in p
    assert joined.count() == docs.count()


def test_text_ops_stay_in_codegen(spark):
    """quality_features / lang_id are pure JVM expressions — no Python
    evaluation node may appear in their plans."""
    from htmld_spark.functions.text import lang_id, quality_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (quality_features(docs), lang_id(docs)):
        p = plan_of(df)
        assert "EvalPython" not in p and "ArrowEval" not in p
        assert "*(" in p  # WholeStageCodegen stage marker in toString()


def test_extraction_plan_has_single_python_stage(spark):
    """The flagship plan crosses JVM↔Python exactly once (one mapInArrow)."""
    from htmld_spark.functions.udfs import extract_df

    pages = spark.read.parquet(ensure_pages("0.001"))
    df = (
        extract_df(pages.select("url", "warc_ts", "html", "lang"))
        .repartition(8, F.xxhash64("url"))
        .groupBy("lang")
        .count()
    )
    p = plan_of(df)
    assert p.count("MapInArrow") == 1
    assert "BatchEvalPython" not in p  # no row-at-a-time Python anywhere

def test_new_text_ops_stay_in_codegen(spark):
    """pii_scrub / url_normalize / paragraph_dedup / bigram_topk are pure
    JVM expressions — no Python eval nodes; the aggregating ones must show
    map-side partial aggregation (partial_count before the exchange)."""
    from htmld_spark.functions.text import (
        bigram_topk,
        paragraph_dedup,
        pii_scrub,
        url_normalize,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = spark.read.parquet(ensure_pages("0.001"))
    for df in (
        pii_scrub(docs),
        url_normalize(pages.select("url")),
        paragraph_dedup(pages, id_col="url"),
        bigram_topk(docs, k=10),
    ):
        p = plan_of(df)
        assert "EvalPython" not in p and "ArrowEval" not in p
    # bigram counting combines map-side: partial aggregate below the shuffle
    p = plan_of(bigram_topk(docs, k=10))
    assert "partial_count" in p
    # top-k is TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in p


def test_lsh_near_pairs_banded_join_shape(spark):
    """VERDICT r02 #1: embedding near-pair candidates must come from an
    equi-join on (band, band_key) — NOT a single-bucket self-join whose
    buckets go quadratic at 10^12 rows. The banded explode appears once
    and the join keys include band_key."""
    from htmld_spark.functions.similarity import lsh_near_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # checkpoint=False exposes the full lineage for shape assertions
    p = plan_of(lsh_near_pairs(emb, dim=64, cosine_threshold=0.3,
                               checkpoint=False))
    assert "band_key" in p
    assert "posexplode" in p.lower() or "Generate" in p
    # the old shape's single `bucket` hash column must be gone
    assert "bucket#" not in p
    # exactly ONE Python eval per join side: plain posexplode made
    # InferFiltersFromGenerate re-evaluate the band-keys UDF twice per row
    assert p.count("ArrowEvalPython") == 2
    # default: the banded frame is lazily checkpointed, so the band-keys
    # UDF runs ONCE total — both join sides scan the materialized RDD
    pd_ = plan_of(lsh_near_pairs(emb, dim=64, cosine_threshold=0.3))
    assert "ExistingRDD" in pd_ and pd_.count("ArrowEvalPython") == 0


def test_host_quota_plan_short_circuits_under_quota_hosts(spark):
    """VERDICT r03 #4: host_quota's plan must show the two-phase shape —
    under-quota hosts bypass the window via a broadcast anti-join (no
    host-key shuffle for them), and only the over-quota branch ranks
    (salted pre-prune window + final per-host window = exactly 2 Windows,
    unioned with the pass-through branch)."""
    from htmld_spark.functions.text import host_quota

    pages = spark.createDataFrame(
        [(f"https://h{i%5}.x/p{j}", j) for i in range(5) for j in range(4)],
        "url string, warc_ts long",
    )
    p = plan_of(host_quota(pages, ts_col="warc_ts", max_per_host=2))
    assert "Union" in p
    assert "LeftAnti" in p and "LeftSemi" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p
    import re

    assert len(re.findall(r"\bWindow \[", p)) == 2


def test_pdf_extract_single_arrow_crossing(spark):
    """The PDF leg keeps the flagship invariant: ONE MapInArrow crossing,
    zero row-at-a-time Python, scan feeds the kernel directly (no
    intermediate shuffle of raw pdf bytes)."""
    from fixtures.gen_pdfs import ensure_pdfs
    from htmld_spark.functions.udfs import extract_pdf_df

    df = spark.read.parquet(ensure_pdfs()).select("pdf_id", "pdf")
    p = plan_of(extract_pdf_df(df))
    assert p.count("MapInArrow") == 1
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p  # narrow: extraction rides the scan splits


def test_semdedup_checkpoint_hides_assignment(spark):
    """L57: the assigned frame feeds the self-join twice plus the final
    anti-join — THREE consumers of the Arrow assignment pass. The lazy
    localCheckpoint must hide it: the final plan reads the materialized
    RDD only (no MapInArrow re-run per consumer, no parquet re-scan)."""
    from htmld_spark.functions.similarity import semdedup_keep

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_of(semdedup_keep(emb, tau=0.3, sample_mod=1))
    assert "MapInArrow" not in p  # assignment ran once, inside the checkpoint
    assert "Scan parquet" not in p
    assert p.count("Scan ExistingRDD") >= 3  # all consumers read the RDD


def test_paragraph_dedup_prunes_singleton_keys(spark):
    """L54: singleton paragraph hashes (the overwhelming majority of a
    deduped corpus) are pruned BEFORE the join back — the executed plan
    carries the count > 1 filter on the aggregated side."""
    from htmld_spark.functions.text import dedup_paragraphs_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(dedup_paragraphs_corpus(docs))
    assert "BatchEvalPython" not in p
    assert "(_n" in p and "> 1)" in p  # the singleton-pruning filter


def test_host_term_divergence_single_token_pass(spark):
    """VERDICT r05 #1: host_term_divergence's (host, token) counts table
    feeds FOUR consumers (cc, nh, nc, final join) — without a checkpoint,
    column pruning defeats ReuseExchange and the r5 plan re-ran the corpus
    tokenize 4× (4 parquet scans, 4 Generates, 0 ReusedExchange). With the
    lazy localCheckpoint, the executed plan must read the materialized RDD
    only: zero parquet scans, zero Generate (explode) nodes downstream."""
    from htmld_spark.functions.text import host_term_divergence

    pages = spark.read.parquet(ensure_pages("0.001")).select(
        "url", F.substring("html", 1, 200).alias("text")
    )
    p = plan_of(host_term_divergence(pages, min_host_tokens=1))
    assert "Scan parquet" not in p  # hidden behind the ONE checkpoint
    assert "Generate" not in p  # tokenize/explode runs inside it only
    assert "ExistingRDD" in p


def test_lm_perplexity_single_ref_scan(spark):
    """VERDICT r05 #7 / ADVICE r05: the reference corpus is scanned once —
    the tokenized ref is checkpointed and both the bigram LM and the V
    collect read that checkpoint. The final plan may contain exactly ONE
    parquet scan (the raw corpus side) and ONE Generate (the corpus bigram
    explode); the ref side appears only as ExistingRDD."""
    from htmld_spark.functions.text import lm_perplexity

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select("text")
    p = plan_of(lm_perplexity(docs, ref))
    assert p.count("Scan parquet") == 1  # corpus only; ref is checkpointed
    assert p.count("Generate") == 1  # corpus bigram explode only
    assert "ExistingRDD" in p


def test_ivf_sample_plan_has_no_takeordered(spark):
    """VERDICT r02 #3: the IVF training sample is a hash-threshold filter
    (scan + filter), not an orderBy(id).limit(N) — no TakeOrdered heap, no
    global sort, at any table size."""
    from htmld_spark.functions.similarity import ivf_sample_df

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_of(ivf_sample_df(emb, sample_mod=7))
    assert "TakeOrdered" not in p and "Sort" not in p
    assert "xxhash64" in p and "Filter" in p


# --- r8 structural-shape guards (OPTIMIZATION_r08.md) -------------------


def test_curate_payload_shuffles_once(spark):
    """Guide §8 shape: curate's final plan must not shuffle the text
    payload — every visible exchange carries only the slim decision
    proxy; the payload moves at the latest-capture checkpoint and the
    single attach join. A text-carrying exchange = the r8 slim-proxy
    restructure silently regressed."""
    import re

    from htmld_spark.pipeline.curate import curate

    pages = spark.read.parquet(ensure_pages("0.001")).select(
        "url", "warc_ts", "html", "lang"
    )
    p = (
        curate(pages)
        ._sc._jvm.PythonSQLUtils.explainString(
            curate(pages)._jdf.queryExecution(), "formatted"
        )
    )
    blocks = re.findall(
        r"\(\d+\) (?:Broadcast)?Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", p
    )
    assert blocks, "no exchanges found — plan format changed?"
    carrying = [b for b in blocks if re.search(r"\btext#\d+", b)]
    assert not carrying, carrying


def test_semdedup_pair_condition_uses_hoisted_norms(spark):
    """r8 per-row norm hoist: the within-cell pair condition must consume
    the precomputed _nrm columns (one multiply), not re-run the
    HOF-aggregate norm folds per pair."""
    from htmld_spark.functions.similarity import semdedup_keep

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    p = plan_of(semdedup_keep(emb, n_cells=4, tau=0.5))
    assert "_nrm" in p
    # the pair condition multiplies the hoisted norms and evaluates exactly
    # ONE aggregate fold (the dot product); the old per-pair recompute
    # pattern — sqrt over an aggregated transform — must be gone
    pair_lines = [
        ln for ln in p.splitlines() if "_nrm" in ln and "aggregate(" in ln
    ]
    assert pair_lines, p[:2000]
    assert all(ln.count("aggregate(") == 1 for ln in pair_lines), pair_lines
    assert "SQRT(aggregate(transform" not in p


def test_job_lineage_aggregate_has_one_exchange(spark):
    """A round's per-bucket lineage counts (distinct exec partitions among
    them) take one exchange: no distinct-aggregate rewrite, which costs a
    second exchange and Spark job every round."""
    import re

    from htmld_spark.pipeline.job import _lineage_agg

    out = spark.range(100).selectExpr(
        "CAST(id % 7 AS INT) AS bucket",
        "id AS n_bytes",
        "id % 5 > 0 AS parse_ok",
        "CAST(id % 3 AS INT) AS exec_partition_id",
    )
    assert len(re.findall(r"\bExchange\b", plan_of(_lineage_agg(out)))) == 1
