"""The benchmark's own checks: its generator, its forcing, its failure
path and its span arithmetic."""

import json
import os
import subprocess
import sys

import datagen
import tracing
import workloads
from conftest import BENCH, ROOT


def test_syslog_covers_every_fixture_shape(tmp_path):
    truth = datagen.make_syslog(3, 4000, 2, str(tmp_path))
    text = "".join(open(tmp_path / f).read() for f in sorted(os.listdir(tmp_path)))
    for needle in ("Invalid user", "Failed password for invalid user", "authentication failure;",
                   "reverse mapping", "Connection closed by", "Bye Bye", "identification string",
                   "Too many authentication failures", "ignoring max retries", "Failed none",
                   "Accepted password", "Timeout, client", ": Connection closed",
                   "CRON[", "not a syslog line"):
        assert needle in text, needle
    assert sum(truth["events"].values()) == truth["valid"] < truth["lines"]
    # the ladder is the reference's: first matching substring wins
    assert datagen.classify("Received disconnect from 1.2.3.4: Connection closed") == "connection_closed"
    assert datagen.classify("Failed password for invalid user a from 1.2.3.4") == "failed_password"


def test_ground_truth_matches_the_engine_parser(spark, tmp_path):
    from bigdata_logs_spark.operators.enrich import with_event_time
    from bigdata_logs_spark.operators.parse import parse_ssh_lines
    from bigdata_logs_spark.sources import read_ssh_log_text

    truth = datagen.make_syslog(5, 3000, 3, str(tmp_path))
    parsed = with_event_time(parse_ssh_lines(read_ssh_log_text(spark, str(tmp_path))))
    counts = {r[0]: r[1] for r in parsed.groupBy("event").count().collect()}
    assert counts == truth["events"]
    assert parsed.filter("ts IS NULL").count() == 0


def test_entity_profile_is_forced_in_full(spark, tmp_path):
    """A bare count() prunes entity_profile to a distinct count of
    user_id; the benchmark's forcing computes all 19 columns."""
    from bigdata_logs_spark.registry import REGISTRY

    datagen.write_tables(datagen.make_tables(7, 2000), str(tmp_path))
    df = REGISTRY["entity_profile"].fn(spark, str(tmp_path))

    count_plan = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
    assert "total_value" not in count_plan and "user_id" in count_plan

    forced_plan = df._jdf.queryExecution().optimizedPlan()
    assert forced_plan.output().size() == 19
    cols, rows = workloads.force(df)
    assert len(cols) == 19 and rows and all(len(r) == 19 for r in rows)
    for c in cols:
        assert c in forced_plan.toString()


def test_span_self_time():
    tr = tracing.Tracer("t", enabled=True)
    tr.spans = [
        tracing.Span("bench.call", 0.0, 10.0),
        tracing.Span("registry.build", 1.0, 4.0, parent=0),
        tracing.Span("sources.load", 2.0, 3.0, parent=1),
        tracing.Span("exec.force", 5.0, 9.0, parent=0),
    ]
    assert tr.self_seconds() == {"bench": 3.0, "registry": 2.0, "sources": 1.0, "exec": 4.0}
    assert tr.innermost(2.5).name == "sources.load"
    assert tr.innermost(4.5).name == "bench.call"
    assert tr.innermost(11.0) is None


def test_corrupted_expected_digest_fails_the_run():
    """Same command as the benchmark, with every reference digest
    replaced: every call must count as failed and the exit code be 1."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import workloads; "
        "workloads.Dashboard.reference = lambda self, name, cols, rows: '0' * 64; "
        "import run; sys.exit(run.main(sys.argv[2:]))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, BENCH, "--workload", "dashboard", "--seed", "1",
         "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 1, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] > 0


def test_run_cut_short_by_its_deadline_fails():
    """A deadline reached before the minimum number of measured passes
    fails the run with a result line and no metrics."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import run; run.DEADLINE_S = 0; "
        "sys.exit(run.main(sys.argv[2:]))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, BENCH, "--workload", "dashboard", "--seed", "1",
         "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 1, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] == 1
    assert result["metrics"] == {}
