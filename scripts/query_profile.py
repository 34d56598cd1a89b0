"""Per-query profile of the headline queries: where each query's time goes.

For every query in `bench.HEADLINE` whose name starts with one of the
given prefixes (all of them when none is given), one warm-up collect
absorbs codegen and JIT, then one profiled run writes `<out>/<query>.json`:

- `construct_s` / `collect_s`: building the DataFrame (driver time: plan
  building, eager cuts, trainer loops) vs collecting it, and
  `construct_jobs`, the Spark jobs started while building it;
- `branches`: collect seconds of each union branch, for the queries in
  `DISC`. A filter on the query's literal discriminator column prunes the
  other branches at plan time. The filter is applied to the DataFrame the
  profiled run already built, so construction, which every branch
  shares, is counted once (in `construct_s`). Values `fam:x` are timed
  per family `fam`. A branch that returns no rows is not seen;
- `operators`: self seconds and calls of every public function of the
  `operators` modules during construct and collect (perfbench's span
  tracer). Spans in builder threads overlap, so the sum can pass the
  wall time;
- `plan_rows`: `[depth, operator, rows out]` for every node of the AQE
  final plan (rows out is null where the operator keeps no count), and
  `final_plan`, its formatted explain;
- `jobs`: the job ids of each job group, and `stages`: per job group,
  task ms, shuffle read/write bytes and spill of each Spark stage, from
  Spark's event log.

Every job runs under a job group `<query>/warmup`, `<query>/construct`,
`<query>/collect` or `<query>/branch:<value>`. `unlabelled_jobs` counts
the event-log jobs submitted during the profiled run that carry none of
the query's groups.

Usage:
    SPARK_GRAFT_SF_DIR=<parquet dir> python scripts/query_profile.py OUT_DIR [query-prefix ...]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.append(str(ROOT / "perfbench"))

from pyspark.sql import functions as F  # noqa: E402
from tracing import Tracer, read_event_log  # noqa: E402

from bench import HEADLINE  # noqa: E402
from bigdatabowl2024_25_spark import operators, suite  # noqa: E402
from bigdatabowl2024_25_spark.session import get_spark  # noqa: E402

LABEL_KEY = "spark.jobGroup.id"

#: query → its literal discriminator column (one value per union branch)
DISC = {
    "q64_binary_plumbing": "kind",
    "q70_corpus_hygiene": "branch",
    "q71_signatures_and_selection": "branch",
    "q72_near_dup_pairs": "kind",
    "q74_near_dup_clusters": "kind",
    "q75_dedup_survivors": "branch",
    "q80_cosine_search": "kind",
    "q82_ann_lsh_topk": "kind",
    "q83_ann_ivf_topk": "kind",
    "q94_codec_roundtrip": "codec",
    "q95_source_sink_roundtrip": "kind",
}


@contextmanager
def _job_group(sc, label: str):
    """Runs the body's Spark jobs under job group `label` (builder threads
    inherit it) and yields a callable returning the ids of the jobs the
    body started in it; ungroups the thread's later jobs on exit."""
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(label))
    sc.setJobGroup(label, label)
    try:
        yield lambda: sorted(set(tracker.getJobIdsForGroup(label)) - before)
    finally:
        for prop in (LABEL_KEY, "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def _install_tracer(tracer: Tracer) -> None:
    """Wrap every public function of the `operators` modules, then rebind
    the names the package imported before."""
    for mod in pkgutil.iter_modules(operators.__path__):
        name = f"{operators.__name__}.{mod.name}"
        tracer.install(f"operators.{mod.name}", importlib.import_module(name))
    tracer.rebind("bigdatabowl2024_25_spark")


def _plan_rows(node, depth: int, out: list) -> list:
    """Pre-order `[depth, operator, rows out]` of a physical plan, through
    AQE's final plan, its query stages and subqueries."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.finalPhysicalPlan()
    rows = node.metrics().get("numOutputRows")
    out.append([depth, node.nodeName(),
                rows.get().value() if rows.isDefined() else None])
    kids = [seq.apply(i) for seq in (node.children(), node.subqueries())
            for i in range(seq.size())]
    if node.nodeName().endswith("QueryStage"):
        kids.append(node.plan())
    for kid in kids:
        _plan_rows(kid, depth + 1, out)
    return out


def profile_query(spark, name: str, sf_dir: str, tracer: Tracer) -> dict:
    """One profiled run of headline query `name`, every job labelled
    `name/<phase>`; the stage figures are joined from the event log later
    (`attach_stages`)."""
    sc = spark.sparkContext
    fn = suite.QUERIES[name]
    rec: dict = {"query": name, "sf_dir": sf_dir,
                 "loadavg": [round(x, 2) for x in os.getloadavg()],
                 "window_ms": [int(time.time() * 1000)]}
    jobs = rec["jobs"] = {}

    def run(phase: str, action):
        label = f"{name}/{phase}"
        with _job_group(sc, label) as started:
            t0 = time.perf_counter()
            out = action()
            secs = round(time.perf_counter() - t0, 3)
        jobs[label] = started()
        return out, secs

    tracer.spans.clear()
    tracer.pass_id = 0
    tracer.enabled = True
    try:
        df, rec["construct_s"] = run("construct", lambda: fn(spark, sf_dir))
        rows, rec["collect_s"] = run("collect", df.collect)
    finally:
        tracer.enabled = False
    rec["rows"] = len(rows)
    rec["construct_jobs"] = len(jobs[f"{name}/construct"])
    disc = DISC.get(name)
    if disc is not None:
        col = F.col(disc)
        branches = {}
        for fam in sorted({str(r[disc]).split(":")[0] for r in rows}):
            one = df.filter((col == fam) | col.startswith(fam + ":"))
            _, branches[fam] = run(f"branch:{fam}", one.collect)
        rec["branches"] = dict(sorted(branches.items(), key=lambda kv: -kv[1]))
    rec["window_ms"].append(int(time.time() * 1000))
    rec["operators"] = {
        span: {"self_s": round(s, 4), "calls": n}
        for span, (s, n) in sorted(tracer.self_times({0}).items(),
                                   key=lambda kv: -kv[1][0])
    }
    qe = df._jdf.queryExecution()
    rec["plan_rows"] = _plan_rows(qe.executedPlan(), 0, [])
    rec["final_plan"] = sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return rec


def attach_stages(rec: dict, jobs, stages) -> None:
    """Per job group of `rec`, the stages its jobs submitted inside `rec`'s
    window ran (each stage once, under the first job that lists it) with
    their task figures; and the number of jobs submitted inside the window
    without one of its groups."""
    lo, hi = rec["window_ms"]
    own = set(rec["jobs"])
    seen: set[int] = set()
    rec["stages"] = {g: [] for g in rec["jobs"]}
    rec["unlabelled_jobs"] = 0
    for job in sorted(jobs, key=lambda j: j.job_id):
        if not lo <= job.submit_ms <= hi:
            continue
        if job.label not in own:
            rec["unlabelled_jobs"] += 1
            continue
        for sid in job.stage_ids:
            st = stages.get(sid)
            if sid in seen or st is None or st.tasks == 0:
                continue
            seen.add(sid)
            rec["stages"][job.label].append({
                "stage": sid,
                "tasks": st.tasks,
                "task_ms": st.task_ms,
                "shuffle_read_bytes": st.shuffle_read_bytes,
                "shuffle_write_bytes": st.shuffle_write_bytes,
                "spill_bytes": st.spill_bytes,
            })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", help="directory for the per-query JSON files")
    ap.add_argument("prefixes", nargs="*",
                    help="profile only headline queries with these name prefixes")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the parquet directory to run on")
    names = [n for n in HEADLINE
             if not args.prefixes or any(n.startswith(p) for p in args.prefixes)]
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    tracer = Tracer()
    _install_tracer(tracer)
    suite.load_all()
    with tempfile.TemporaryDirectory(prefix="query-profile-") as log_dir:
        spark = get_spark(app_name="bdb-query-profile", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{log_dir}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        try:
            records = []
            for name in names:
                with _job_group(spark.sparkContext, f"{name}/warmup"):
                    suite.QUERIES[name](spark, sf_dir).collect()
                rec = profile_query(spark, name, sf_dir, tracer)
                records.append(rec)
                print(f"{name}: construct {rec['construct_s']} s, collect "
                      f"{rec['collect_s']} s, {rec['construct_jobs']} "
                      f"construct jobs", file=sys.stderr, flush=True)
            app_id = spark.sparkContext.applicationId
        finally:
            spark.stop()  # flushes and closes the event log
        jobs, stages = read_event_log(log_dir, app_id, label_key=LABEL_KEY)
    for rec in records:
        attach_stages(rec, jobs, stages)
        path = out / f"{rec['query']}.json"
        path.write_text(json.dumps(rec, indent=1) + "\n")
        print(f"wrote {path} (unlabelled jobs: {rec['unlabelled_jobs']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
