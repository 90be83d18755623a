"""Unit tests for the expression library — E1's four scale branches and
boundary values are the highest-value cases (SURVEY §5)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.epoch import (
    MICROS_MAX,
    MILLIS_MAX,
    SECONDS_MAX,
    derive_hiveperiod,
    normalize_epoch_auto,
)


def _norm(spark, heartbeats):
    df = spark.createDataFrame(list(enumerate(heartbeats)), "i long, heartbeat long")
    return [
        r["ts"]
        for r in df.select("i", normalize_epoch_auto(F.col("heartbeat")).alias("ts"))
        .orderBy("i")
        .collect()
    ]


def test_epoch_four_scales(spark):
    base_s = 1_700_000_000  # 2023-11-14 22:13:20 UTC
    out = _norm(
        spark,
        [base_s, base_s * 1_000, base_s * 1_000_000, base_s * 1_000_000_000],
    )
    assert all(ts == datetime(2023, 11, 14, 22, 13, 20) for ts in out)


def test_epoch_boundaries(spark):
    # Exactly at each threshold the NEXT branch applies (strict <).
    s_edge, ms_edge, us_edge = SECONDS_MAX, MILLIS_MAX, MICROS_MAX
    out = _norm(spark, [s_edge - 1, s_edge, ms_edge - 1, ms_edge, us_edge - 1, us_edge])
    # s_edge-1 is the last seconds value (2286); s_edge itself is read as
    # millis → 1e10 ms = 1e7 s = 1970-04-26 (the ladder's reinterpretation)
    assert out[0] == datetime(2286, 11, 20, 17, 46, 39)
    assert out[1] == datetime(1970, 4, 26, 17, 46, 40)
    # ms_edge-1 is the last millis value; ms_edge reads as micros → 1970
    assert out[2] == datetime(2286, 11, 20, 17, 46, 39, 999000)
    assert out[3] == datetime(1970, 4, 26, 17, 46, 40)
    # us_edge-1 is the last micros value; us_edge reads as nanos → 1970
    assert out[4] == datetime(2286, 11, 20, 17, 46, 39, 999999)
    assert out[5] == datetime(1970, 4, 26, 17, 46, 40)


def test_epoch_ns_rounding(spark):
    # ns branch divides by 1000 and ROUNDS (DuckDB CAST semantics), not
    # truncates: …500 ns (exactly representable as double) rounds up to the
    # next microsecond instead of truncating down.
    ns = 10_000_000_000_000_500  # 1.00000000000005e16 ns, double-exact
    out = _norm(spark, [ns])
    assert out[0].microsecond == 1  # truncation would give 0
    ns2 = 9_000_000_000_000_000_000  # exact multiple of 1000
    assert _norm(spark, [ns2])[0] == datetime(2255, 3, 14, 16, 0, 0)


def test_hiveperiod_crosses_dateline(spark):
    # 22:30 UTC + 8h = 06:30 next day (WITA)
    hb = int(datetime(2024, 3, 1, 22, 30).replace(tzinfo=None).timestamp())
    # build via known epoch: 2024-03-01 22:30 UTC
    hb = 1709332200
    df = spark.createDataFrame([(hb,)], "heartbeat long")
    d = df.select(derive_hiveperiod(F.col("heartbeat")).alias("d")).first()["d"]
    assert str(d) == "2024-03-02"


def test_sentinel_and_gps_status(spark):
    from enterprise_iot_bigdata_pipeline_spark.functions.cleaning import (
        gps_status,
        replace_sentinel,
    )

    df = spark.createDataFrame(
        [(-9999.0, -9000.0), (50.0, -1.2)], "speed double, lat double"
    )
    out = df.select(
        replace_sentinel(F.col("speed")).alias("s"),
        gps_status(F.col("lat")).alias("g"),
    ).collect()
    assert (out[0]["s"], out[0]["g"]) == (-1.0, "false")
    assert (out[1]["s"], out[1]["g"]) == (50.0, "true")


def test_parse_s3_key(spark):
    from enterprise_iot_bigdata_pipeline_spark.functions.keys import parse_s3_key

    df = spark.createDataFrame(
        [("bucket/lake/datalog_v2/hiveperiod=2025-12-01/dstrct_code=DISTRICTB/standard_x.parquet",)],
        "key string",
    )
    p = df.select(parse_s3_key(F.col("key")).alias("p")).select("p.*").first()
    assert (p["hiveperiod"], p["dstrct_code"], p["filename"]) == (
        "2025-12-01",
        "DISTRICTB",
        "standard_x.parquet",
    )


def test_staged_metrics_matches_flat_composition(spark):
    """plans.text.staged_metrics is a performance restructuring of the flat
    functions.text composition — the two must stay value-identical,
    including edge strings (empty, whitespace, non-ASCII, marker ties)."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.functions import text as X
    from enterprise_iot_bigdata_pipeline_spark.plans.text import staged_metrics

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "   "),
        (4, "¡hola! ¿qué tal? 你好"),
        (5, "el la de que los the and of to is"),  # en/es marker tie-ish
        (6, "x" * 500),
        (7, "a b c d e f g h i j " * 20),
        (8, "!!! ??? ... ,,, ;;;"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    txt = F.col("text")
    flat = docs.select(
        "doc_id",
        X.token_count(txt).alias("n_tokens"),
        X.bpe_token_count(txt).alias("n_bpe_tokens"),
        X.punct_ratio(txt).alias("punct_ratio"),
        X.stopword_ratio(txt).alias("stopword_ratio"),
        X.quality_score(txt).alias("quality_score"),
        X.lang_id(txt).alias("lang_pred"),
        X.fingerprint(txt).alias("fingerprint"),
    )
    staged = staged_metrics(docs).select(*flat.columns)
    a = {r["doc_id"]: r.asDict() for r in flat.collect()}
    b = {r["doc_id"]: r.asDict() for r in staged.collect()}
    assert a == b


def test_repetition_metrics_known_values(spark):
    """Gopher-style repetition columns on hand-checkable docs."""
    from enterprise_iot_bigdata_pipeline_spark.plans.text import staged_metrics

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 4 tokens, 1 distinct; 3 2-grams all "a a"
            (2, "a b c d"),          # no repetition at all
            (3, "a b a b a"),        # 5 tokens {a,b}; 2-grams: ab ba ab ba
        ],
        "doc_id long, text string",
    )
    m = {
        r["doc_id"]: r
        for r in staged_metrics(docs)
        .select("doc_id", "dup_word_ratio", "top_word_frac", "dup_2gram_frac")
        .collect()
    }
    assert m[1]["dup_word_ratio"] == 0.75
    assert m[1]["top_word_frac"] == 1.0
    assert m[1]["dup_2gram_frac"] == 2 / 3
    assert m[2]["dup_word_ratio"] == 0.0
    assert m[2]["top_word_frac"] == 0.25
    assert m[2]["dup_2gram_frac"] == 0.0
    assert m[3]["dup_word_ratio"] == 0.6
    assert m[3]["top_word_frac"] == 0.6
    assert m[3]["dup_2gram_frac"] == 0.5


def test_decontaminate_flags_overlapping_docs(spark):
    """Docs sharing ≥ threshold 3-gram shingles with the benchmark are
    flagged; disjoint docs pass with zero overlap."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "he saw the quick brown fox jumps away"),  # shares 3 shingles
            (2, "completely different words entirely here now"),  # 0
            (3, "quick brown fox seen again"),  # shares 1 ("quick brown fox")
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3, threshold=2).collect()}
    assert out[1]["n_shared_shingles"] == 3 and out[1]["contaminated"]
    assert out[2]["n_shared_shingles"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_shared_shingles"] == 1 and not out[3]["contaminated"]


def test_pii_redact_counts_and_output(spark):
    """Email/phone/IP detection counts and full redaction, including the
    order dependency (emails redacted before digit-bearing patterns)."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.functions import pii as P

    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c_9@sub.example.co.uk or call +1-555-0199 from 10.0.0.254 ok"),
            (2, "no pii at all in this line"),
            (3, "two mails x@y.io and z@w.org; ip 192.168.1.1"),
        ],
        "doc_id long, text string",
    )
    c = P.pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            c["n_emails"].alias("e"),
            c["n_phones"].alias("p"),
            c["n_ips"].alias("i"),
            P.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["p"], out[1]["i"]) == (1, 1, 1)
    assert out[1]["red"] == "mail [EMAIL] or call [PHONE] from [IP] ok"
    assert (out[2]["e"], out[2]["p"], out[2]["i"]) == (0, 0, 0)
    assert out[2]["red"] == "no pii at all in this line"
    assert (out[3]["e"], out[3]["p"], out[3]["i"]) == (2, 0, 1)
    assert out[3]["red"] == "two mails [EMAIL] and [EMAIL]; ip [IP]"


def test_duplicate_ngram_coverage_known_values(spark):
    """Cross-doc repetition: a doc sharing its whole text with another has
    coverage 1.0; a unique doc has 0.0; a half-shared doc is fractional."""
    from enterprise_iot_bigdata_pipeline_spark.operators.dedup import (
        duplicate_ngram_coverage,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),            # 3 shingles, all shared with doc 2
            (2, "a b c d e"),            # exact duplicate of doc 1
            (3, "p q r s t"),            # unique
            (4, "a b c x y z"),          # shares 'a b c' only (1 of 4)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_ngram_coverage(docs, n=3).collect()}
    assert out[1]["n_shingles"] == 3 and out[1]["dup_coverage"] == 1.0
    assert out[2]["dup_coverage"] == 1.0
    assert out[3]["n_shingles"] == 3 and out[3]["dup_coverage"] == 0.0
    assert out[4]["n_shingles"] == 4 and out[4]["n_dup_shingles"] == 1
    assert out[4]["dup_coverage"] == 0.25


def test_collapse_repeated_tokens(spark):
    """Stutter collapse drops only CONSECUTIVE duplicates, keeps later
    reoccurrences, and survives single-token and all-same inputs."""
    from enterprise_iot_bigdata_pipeline_spark.functions.text import (
        collapse_repeated_tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "a a the the b"),
            (2, "a b a b"),          # alternating: nothing to drop
            (3, "x"),
            (4, "y y y y y"),
            (5, "The THE the mix"),  # lower-cased first → all 'the' collapse
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["kept"]
        for r in df.select(
            "id", F.array_join(collapse_repeated_tokens(F.col("text")), " ").alias("kept")
        ).collect()
    }
    assert out[1] == "a the b"
    assert out[2] == "a b a b"
    assert out[3] == "x"
    assert out[4] == "y"
    assert out[5] == "the mix"


def test_raw_schema_independent_of_call_order(spark, tmp_path):
    """``raw_schema`` caches the discovered schema of a nanosecond-timestamp
    parquet file; the cached entry must be the same whether it is called
    before or after ``t`` pins the nanosAsLong reader conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from enterprise_iot_bigdata_pipeline_spark.plans import tables

    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000, None], pa.timestamp("ns")),
            }
        ),
        path,
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        before_t = tables.raw_schema(spark, path)
        tables.t(spark, str(tmp_path), "events")
        tables._SCHEMAS.pop(path)
        spark.conf.set(conf, "false")
        tables.t(spark, str(tmp_path), "events")
        after_t = tables.raw_schema(spark, path)
    finally:
        tables._SCHEMAS.pop(path, None)
        spark.conf.set(conf, prev)
    assert before_t == after_t
    assert before_t["ts"].dataType.simpleString() == "bigint"
