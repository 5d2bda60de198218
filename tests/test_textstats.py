"""Repetition quality signals and trailing z-score anomaly flags vs
hand-computed fixtures."""

from __future__ import annotations

import math
import statistics

import pytest

from rust_timeseries_spark.operators import rolling, textops


def _rep(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    r = textops.with_repetition_stats(df).collect()[0]
    return r["top2gram_frac"], r["top3gram_frac"], r["dup5gram_frac"]


def test_repetition_on_pure_repeat(spark):
    # "a b a b a b a b": 2-grams = [a b, b a, a b, b a, a b, a b... ]
    text = "a b a b a b a b"          # 8 words, 15 chars
    t2, t3, d5 = _rep(spark, text)
    # 2-grams: 7 total; "a b" x4 (len 3) -> product 12; "b a" x3 -> 9
    assert t2 == pytest.approx(12 / 15)
    # 3-grams: "a b a" x3 (len 5) -> 15; "b a b" x3 -> 15
    assert t3 == pytest.approx(15 / 15)
    # 5-grams: 4 instances: "a b a b a" x2, "b a b a b" x2 -> all duplicated
    assert d5 == 1.0


def test_repetition_on_all_distinct(spark):
    text = "q w e r t y u i"
    t2, t3, d5 = _rep(spark, text)
    n_chars = len(text)
    assert t2 == pytest.approx(3 / n_chars)   # every 2-gram unique, len 3
    assert t3 == pytest.approx(5 / n_chars)
    assert d5 == 0.0


def test_repetition_short_doc_zero(spark):
    assert _rep(spark, "only") == (0.0, 0.0, 0.0)


def test_anomaly_zscore_matches_statistics(spark):
    # one key, 30 buckets: constant 10 then a spike
    vals = [10, 11, 9, 10, 12, 8, 10, 11, 9, 10, 12, 8, 10, 11, 9, 10] + [50] + [10] * 5
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type: string, bucket_ts: long, tok_count: long")
    out = rolling.anomaly_zscore(
        df, "tok_count", k=24, keys=["event_type"], order_col="bucket_ts",
        z_thresh=3.0, min_points=12,
    ).collect()
    byb = {r["bucket_ts"]: r for r in out}
    # before 12 points of history: no score
    for i in range(12):
        assert byb[i]["z"] is None and byb[i]["is_anomaly"] == 0
    # the spike at index 16 scores against buckets 0..15
    hist = vals[:16]
    mu = sum(hist) / len(hist)
    sd = statistics.stdev(hist)
    assert byb[16]["z"] == pytest.approx((50 - mu) / sd)
    assert byb[16]["is_anomaly"] == 1
    # normal point right after the spike: spike inflates std, not flagged
    assert byb[17]["is_anomaly"] == 0


def test_quantile_rollup_matches_numpy(spark):
    import numpy as np
    from rust_timeseries_spark.operators import rollup

    rng = __import__("random").Random(7)
    rows = [("a", 1000 + i, round(rng.uniform(0, 100), 2)) for i in range(137)]
    from pyspark.sql import functions as F

    df2 = spark.createDataFrame(rows, "source: string, ts: long, value: double").withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    q = rollup.quantile_rollup(
        df2, "1d", ["source"], "ts", "value", ps=(0.5, 0.95, 0.99),
        accuracy=10000, epoch=True, check_eps=0.02,
    )
    r = q.collect()[0]
    vals = np.array([v for _, _, v in rows])
    for i, p in enumerate((0.5, 0.95, 0.99)):
        assert r["q_exact"][i] == pytest.approx(
            float(np.percentile(vals, p * 100, method="linear")), abs=1e-12
        )
    assert r["approx_within_eps"] is True


def test_quantile_rollup_tiny_group_flag_holds(spark):
    from pyspark.sql import functions as F
    from rust_timeseries_spark.operators import rollup

    rows = [("a", 10 + i, float(v)) for i, v in enumerate([5, 1, 9])]
    df = spark.createDataFrame(rows, "source: string, ts: long, value: double").withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    r = rollup.quantile_rollup(
        df, "1d", ["source"], "ts", "value", ps=(0.5, 0.99), epoch=True, check_eps=0.02
    ).collect()[0]
    assert r["n"] == 3
    assert r["q_exact"][0] == 5.0      # median of {1,5,9}
    assert r["approx_within_eps"] is True


def test_anomaly_constant_history_null_z(spark):
    rows = [("a", i, 5) for i in range(20)]
    df = spark.createDataFrame(rows, "event_type: string, bucket_ts: long, tok_count: long")
    out = rolling.anomaly_zscore(
        df, "tok_count", k=24, keys=["event_type"], order_col="bucket_ts",
    ).collect()
    assert all(r["z"] is None and r["is_anomaly"] == 0 for r in out)


def test_redact_pii_fixtures(spark):
    import re

    texts = [
        (0, "mail me at a.user+x@mail.example.co.uk or bob@x.io thanks"),
        (1, "call +1-800-555-0142 or +44-020-7946-0958 now"),
        (2, "server 10.0.0.1 and 192.168.255.254 but not 1.2.3.4567x"),
        (3, "no pii here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}

    assert (out[0]["n_email"], out[0]["n_phone"], out[0]["n_ipv4"]) == (2, 0, 0)
    assert out[0]["text_redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert (out[1]["n_email"], out[1]["n_phone"]) == (0, 2)
    assert out[1]["text_redacted"] == "call <PHONE> or <PHONE> now"
    # \b stops the run-on 4th octet from matching as an IP
    assert out[2]["n_ipv4"] == 2
    assert out[2]["text_redacted"] == "server <IP> and <IP> but not 1.2.3.4567x"
    assert out[3]["text_redacted"] == "no pii here at all"
    assert out[4]["text_redacted"] == ""

    # cross-engine tripwire: Python `re` (a third regex engine in the
    # Java∩RE2∩re common subset) reproduces every count and redaction
    for doc_id, t in texts:
        red = t
        for name, (pat, token) in textops.PII_PATTERNS.items():
            assert out[doc_id][f"n_{name}"] == len(re.findall(pat, t)), (doc_id, name)
            red = re.sub(pat, token, red)
        assert out[doc_id]["text_redacted"] == red, doc_id


def test_value_histogram_bins_and_fracs(spark):
    from rust_timeseries_spark.operators import rollup

    rows = [("a", -5.0), ("a", 0.0), ("a", 4.99), ("a", 5.0), ("a", 99.99),
            ("a", 100.0), ("a", 250.0), ("b", 50.0), ("b", None)]
    df = spark.createDataFrame(rows, "event_type: string, value: double")
    out = rollup.value_histogram(df, lo=0.0, hi=100.0, n_bins=20,
                                 keys=["event_type"]).collect()
    got = {(r["event_type"], r["bin"]): (r["n"], r["frac"], r["bin_lo"]) for r in out}
    # a: underflow 1; bin0 {0.0, 4.99}; bin1 {5.0}; bin19 {99.99}; overflow {100, 250}
    assert got[("a", -1)][0] == 1
    assert got[("a", 0)] == (2, 2 / 7, 0.0)
    assert got[("a", 1)] == (1, 1 / 7, 5.0)
    assert got[("a", 19)] == (1, 1 / 7, 95.0)
    assert got[("a", 20)][0] == 2
    # null excluded: b has exactly one counted row
    assert got[("b", 10)] == (1, 1.0, 50.0)
    assert sum(n for (k, _), (n, _, _) in got.items() if k == "a") == 7


def test_quality_filter_reasons_and_precedence(spark):
    """Each rule fires on its fixture; a doc failing several rules gets
    the FIRST failing reason in precedence order."""
    rows = [
        (1, "a b c"),                                    # 3 words -> too_short
        (2, " ".join(f"w{i}" for i in range(30))),       # 30 distinct -> too_long (max=25)
        (3, " ".join(["x"] * 10)),                       # mwl=1 -> word_len
        (4, " ".join(["1234 5678"] * 5)),                # digits -> alpha
        (5, " ".join(["same"] * 10)),                    # mwl=4 ok, alpha ok -> dup_words
        (6, " ".join("word" + chr(97 + i) for i in range(10))),  # clean -> keep
        # fails word_len AND alpha AND dup -> precedence says word_len
        (7, " ".join(["9"] * 10)),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {
        r["doc_id"]: (r["drop_reason"], r["keep"])
        for r in textops.quality_filter(
            df,
            min_words=5,
            max_words=25,
            mean_word_len_lo=2.0,
            mean_word_len_hi=12.0,
            min_alpha_ratio=0.6,
            max_dup_word_ratio=0.5,
            max_top2gram_frac=0.9,
        ).collect()
    }
    assert out[1] == ("too_short", False)
    assert out[2] == ("too_long", False)
    assert out[3] == ("word_len", False)
    assert out[4] == ("alpha", False)
    assert out[5] == ("dup_words", False)
    assert out[6] == ("keep", True)
    assert out[7] == ("word_len", False)


def test_quality_filter_rep_2gram_rule(spark):
    # distinct words so dup rule can't fire, but one repeated long
    # 2-gram dominates the character mass
    text = "alphabet soup alphabet soup alphabet soup extra1 extra2 extra3 extra4"
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    out = textops.quality_filter(
        df,
        min_words=2,
        max_words=100,
        mean_word_len_lo=2.0,
        mean_word_len_hi=12.0,
        min_alpha_ratio=0.5,
        max_dup_word_ratio=0.9,
        max_top2gram_frac=0.3,
    ).collect()[0]
    assert out["drop_reason"] == "rep_2gram" and not out["keep"]


def test_vocab_topk_counts_ties_and_limit(spark):
    df = spark.createDataFrame(
        [(1, "b a b c"), (2, "a b z z")], "doc_id: long, text: string"
    )
    got = [(r["word"], r["n"]) for r in textops.vocab_topk(df, k=3).collect()]
    # b:3, a:2, z:2 -- tie a/z broken by word ASC; c cut by the limit
    assert got == [("b", 3), ("a", 2), ("z", 2)]
    with pytest.raises(ValueError):
        textops.vocab_topk(df, k=0)


def test_char_entropy_known_values(spark):
    from rust_timeseries_spark.operators import textops as textops_ops

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in textops_ops.with_char_entropy(df).collect()}
    assert got[0]["char_entropy"] == 0.0 and got[0]["n_distinct_chars"] == 1
    assert abs(got[1]["char_entropy"] - 1.0) < 1e-12
    assert abs(got[2]["char_entropy"] - 2.0) < 1e-12
    assert got[2]["n_chars_total"] == 4 and got[2]["n_distinct_chars"] == 4


@pytest.mark.parametrize("op", [
    textops.with_token_counts, textops.with_quality_score, textops.with_lang_id,
    textops.with_repetition_stats, textops.quality_filter, textops.with_char_entropy,
])
def test_textops_refuse_reserved_columns(spark, op):
    # the operators bind and then drop _rts_* intermediates; a caller
    # column of that name would be overwritten and dropped
    df = spark.createDataFrame([(1, "a b c", "mine")], "doc_id long, text string, _RTS_ws string")
    with pytest.raises(ValueError, match="_rts_"):
        op(df)
