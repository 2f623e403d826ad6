"""Pin bench.py's final-stdout-line size under the driver's capture.

Round 5's official bench artifact was lost (`BENCH_r05.json:
"parsed": null`) because the single JSON line — grown to ~5.7 KB by
the per-query dispersion map — exceeded the ~2,000-character stdout
tail the recording harness keeps. bench.py now prints ONLY the
compact record as its final line and routes dispersion/errors to a
side file; this test proves the compact line cannot outgrow the
capture budget even with worst-plausible timings, so the regression
is structurally impossible rather than just currently absent.
"""

import json

import pytest

from bench import HEADLINE, TAIL

# Driver keeps the last ~2,000 chars; leave headroom for a trailing
# newline and any final log line fragments that share the tail.
CAPTURE_BUDGET = 1900


def _compact_line(per_query_seconds: float) -> str:
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": round(per_query_seconds * len(HEADLINE), 2),
        "unit": "sec",
        "queries": {n: round(per_query_seconds, 2) for n in HEADLINE},
        "tail_sec": round(per_query_seconds * len(TAIL), 2),
        "sf": 0.1,
        # r14 contract fields at their widest plausible rendering: a
        # 3-digit core count and a 100.0% steal share.
        "cpus": 128,
        "steal_pct": 100.0,
    }
    return json.dumps(compact, separators=(",", ":"))


def test_compact_line_fits_capture_budget_at_worst_plausible_timings():
    # 99.99 s/query is far beyond anything observed (worst single
    # query min across all rounds: ~2.5 s; worst single RUN incl.
    # steal spikes: ~24.5 s — and the compact line carries min-of-4,
    # never a single run); 5-char values are the widest rendering
    # 2-decimal rounding produces below 100 s.  The bound was 999.99
    # before r14 added the cpus/steal_pct fields; a 40x margin on the
    # worst observed min is still structural, not incidental.
    line = _compact_line(99.99)
    assert len(line) <= CAPTURE_BUDGET, (
        f"compact bench line is {len(line)} chars at worst-case "
        f"timings; trim HEADLINE or shorten the record"
    )


def test_compact_line_is_valid_driver_record():
    rec = json.loads(_compact_line(1.23))
    assert rec["metric"] == "headline_queries_total_runtime"
    assert rec["unit"] == "sec"
    assert set(rec["queries"]) == set(HEADLINE)
    # r14 contract: the config/health echo fields parse as numbers.
    assert isinstance(rec["cpus"], int)
    assert isinstance(rec["steal_pct"], float)


def test_tail_tier_names_are_registered_and_disjoint():
    """The heavy-tail tier (r12 verdict ask #5) must stay a real,
    non-overlapping query set: every name registered, none also in
    HEADLINE (its total would double-count), exactly the documented
    10 slots."""
    from kinesis_s3_data_shipper_spark.plans import all_queries
    names = set(all_queries())
    assert len(TAIL) == 10 and len(set(TAIL)) == 10
    assert set(TAIL) <= names
    assert not set(TAIL) & set(HEADLINE)


def test_tail_full_value_action_defeats_count_join_elimination(spark):
    """Plan-pin the round-13 tail-action lesson: for an output shaped
    like the ngram groups form (left join against a distinct-keyed
    member map), a bare count() lets Catalyst ELIMINATE the join (its
    row count is join-invariant), so timing count() measures a scan,
    not the plan — the tail tier's first artifact showed 0.53 s
    against the 10.8 s real cost.  bench.full_value must keep the
    join alive.  If a Spark upgrade changes either property, the tail
    protocol needs re-deciding, so both directions are asserted."""
    from pyspark.sql import functions as F

    from bench import full_value

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"))
    members = (docs.filter(F.col("doc_id") % 7 == 0)
               .groupBy("doc_id")
               .agg(F.min("text").alias("rep")))
    out = docs.join(members, "doc_id", "left")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # count(): the join is eliminated from the optimized plan...
    assert "Join" not in optimized(out.groupBy().count()), (
        "count() no longer eliminates the distinct-keyed left join - "
        "the tail tier could go back to count() (re-measure first)")
    # ...while the full-value hash keeps it (and runs correctly).
    hashed = out.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in out.columns]))
        .alias("h"))
    assert "Join" in optimized(hashed)
    assert full_value(out) == 1


def test_session_merge_requires_one_core_count():
    """The merged bench record stamps one `cpus`; sessions that ran on
    different core counts cannot be merged into it."""
    from scripts.bench_sessions import merge

    def session(cpus):
        return {"metric": "m", "value": 1.0, "queries": {"q": 1.0},
                "sf": 0.1, "cpus": cpus}

    assert merge([session(4), session(4)])["cpus"] == 4
    with pytest.raises(ValueError, match="different core counts"):
        merge([session(4), session(8)])
