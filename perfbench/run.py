"""The repository benchmark: one workload, one closed-loop client, one result.

  python3 perfbench/run.py --workload crawl_boilerplate --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke

Run from the root of a checkout. The run builds a Spark session fitted to the
host (``local[nproc]``), makes the workload's inputs from ``--seed``, then
runs rounds back to back, the first one cold, for ``--seconds`` and at
least MIN_ROUNDS. Outputs are checked; the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). The line before it
is the run record: host facts, calibration, versions, Spark conf, and every
raw observation. ``--smoke`` runs every workload in both modes at toy sizes
and checks that each metric named in BENCHMARK.json is emitted with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("crawl_unique", "crawl_boilerplate", "registry")

# Fewest timed rounds per untraced run. A crawl round is one run_pipeline
# (10-17 s on 4 cores), a registry round one pass over six queries
# (15-30 s); the run budget (22 runs of each workload within the hour,
# set-up included) allows two of the one and one of the other.
MIN_ROUNDS = {"crawl": 2, "registry": 1}

PER_LAYER = (
    ("plans.session.get_spark_s", "s"),
    ("sources.pages.generate_s", "s"),
    ("core.parse.preprocess_us", "us"),
    ("core.extractor.extract_rules_only_us", "us"),
    ("core.refine.refine_us", "us"),
    ("core.parse.parse_address_us", "us"),
    ("core.parse.repeat_frac", "ratio"),
    ("functions.udfs.mention_extractor_us", "us"),
    ("operators.extract.s", "s"),
    ("operators.extract.mentions", "count"),
    ("operators.extract.us_per_mention", "us"),
    ("operators.blocking.s", "s"),
    ("operators.blocking.join_keys", "count"),
    ("operators.blocking.max_join_key_rows", "count"),
    ("operators.blocking.split_frac", "ratio"),
    ("operators.pairs.s", "s"),
    ("operators.pairs.candidates", "count"),
    ("operators.scoring.s", "s"),
    ("operators.scoring.edges", "count"),
    ("operators.scoring.edge_yield", "ratio"),
    ("operators.cc.s", "s"),
    ("operators.cc.components", "count"),
    ("operators.cc.max_component", "count"),
    ("operators.cc.attach_s", "s"),
) + tuple(
    (f"operators.{layer}.{m}", unit)
    for layer in ("extract", "blocking", "pairs", "scoring", "cc")
    for m, unit in (
        ("spark_jobs", "count"),
        ("shuffle_write_mb", "MB"),
        ("executor_cpu_s", "s"),
        ("task_skew", "ratio"),
    )
) + tuple(
    (f"plans.er_pipeline.{stage}_s", "s")
    for stage in ("mentions", "blocked", "edges", "clusters", "fingerprint")
) + (
    ("trace.untraced_wall_s", "s"),
    ("trace.traced_wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("host.cal_mops_before", "Mops"),
    ("host.cal_mops_after", "Mops"),
)


def registry_layers():
    from workloads import REGISTRY_QUERIES

    return tuple(
        (f"queries.{q}.{m}", unit)
        for q in REGISTRY_QUERIES
        for m, unit in (("s", "s"), ("spark_jobs", "count"))
    )


END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("pages_per_s", "pages/s"),
    ("pairwise_f1", "ratio"),
    ("peak_rss_mb", "MB"),
)


def probe_workers(spark) -> None:
    """Fail loudly when the Python workers cannot import the package."""
    import pandas as pd

    def probe(batches):
        import indian_address_parser_spark.core.parse  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    n = spark.sparkContext.defaultParallelism
    try:
        spark.range(n).repartition(n).mapInPandas(probe, "n long").count()
    except Exception as exc:  # the worker-side error arrives wrapped by Py4J
        lines = str(exc).splitlines() or [repr(exc)]
        cause = next((ln for ln in lines if "Error:" in ln and not ln.startswith("\t")), lines[0])
        raise SystemExit(f"perfbench: Python workers cannot import the package: {cause.strip()}")


def bench(name: str, seed: int, seconds: float, trace: bool, toy: bool) -> tuple[dict, dict]:
    import host
    import workloads
    from spans import Tracer, engine_counts, event_log_file

    work = os.path.join(WORK, f"{name}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = host.fit_environment(ROOT, work)
    log_dir = os.path.join(work, "eventlog")
    if trace:
        conf.update(host.event_log_conf(log_dir))

    from indian_address_parser_spark.plans.session import get_spark

    record: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
                    "host": host.host_facts(ROOT)}
    wl = workloads.make(name, seed, os.path.join(work, "data"), toy)
    tracer = Tracer(enabled=trace)
    spark = None
    ops: list[dict] = []
    layer: dict = {}
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        # set-up: session (the JVM launch), worker probe, inputs made and cached
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("plans.session.get_spark"):
                spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf,
                                  warm_workers=False)
            tracer.bind(spark)
            with tracer.span("probe_workers"):
                probe_workers(spark)
            wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t0
        record.update(host.spark_facts(spark))
        record["setup_s"] = setup_s
        phase("setup")

        cal_before = host.spin_mops()
        if wl.kind == "registry":
            wl.load_oracle()
        phase("oracle")

        # A round is one operation (crawl) or one pass over the queries
        # (registry). Round 0 is cold, in a fresh session, as a spark-submit
        # job runs; code generation and JIT land there. The untraced run
        # makes at least MIN_ROUNDS rounds and repeats them until --seconds
        # have passed. The traced run makes three: cold untraced (its report
        # gives the stage times), warm untraced, traced; the traced round
        # minus the warm untraced one is the tracing overhead.
        jvm = spark.sparkContext._gateway.proc.pid
        t_start = time.perf_counter()
        with host.RssSampler(jvm) as rss:
            i = 0
            rounds = 3 if trace else MIN_ROUNDS[wl.kind]
            while i < rounds or (not trace and time.perf_counter() - t_start < seconds):
                tracer.enabled = trace and i == 2
                if wl.kind == "crawl":
                    ops.append(dict(crawl_op(wl, spark, tracer, i), round=i))
                else:
                    ops.extend(dict(o, round=i) for o in registry_pass(wl, spark, tracer))
                i += 1
        phase("window")
        cal_after = host.spin_mops()
        tracer.enabled = trace

        # F1 is checked on the last clustering the run produced
        f1, why = wl.verify(spark)
        if why:
            last = [o for o in ops if o.get("query", "er_clusters") == "er_clusters"][-1]
            last["failure"] = last["failure"] or why

        phase("verify")
        if trace:
            lines = wl.lines(spark)
            layer.update(workloads.time_core(workloads.sample_lines(lines, seed)))
            layer["core.parse.repeat_frac"] = workloads.repeat_frac(lines)
            if wl.kind == "crawl":
                layer["functions.udfs.mention_extractor_us"] = wl.extractor_us_per_page()
                layer.update(wl.layers(spark, tracer))
        phase("layers")
    finally:
        if spark is not None:
            host.stop_spark(spark)
    phase("stop")

    failed = sum(1 for o in ops if o["failure"])
    record.update({
        "ops": ops,
        "cal_mops": {"before": cal_before, "after": cal_after},
        "failed_frac": failed / len(ops),
        "pairwise_f1": f1,
        "phases_s": phases,
        "peak_rss_mb": {k: v / 2**20 for k, v in rss.peaks.items()},
    })
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if not trace:
        wall = wall_seconds(wl.kind, ops)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "pages_per_s": wl.n_pages / wall,
            "pairwise_f1": f1,
            "peak_rss_mb": rss.peak / 2**20,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    else:
        app = record["spark_conf"]["spark.app.id"]
        engine = engine_counts(event_log_file(log_dir, app), tracer.run_id)
        spans_path = os.path.join(WORK, "spans", f"{name}-{seed}.jsonl")
        tracer.write(spans_path, engine)
        record["spans"] = spans_path
        layer.update(traced_layers(wl, tracer, engine, ops, layer))
        layer["host.cal_mops_before"] = cal_before
        layer["host.cal_mops_after"] = cal_after
        names = PER_LAYER + registry_layers()
        result["metrics"] = {
            k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in names
        }
        record["design"] = design_check(wl, tracer)
    shutil.rmtree(work, ignore_errors=True)
    return record, result


def wall_seconds(kind: str, ops: list[dict]) -> float:
    """Median operation time (crawl), or the sum over the queries of each
    query's median execution time (registry), over operations that ran to
    the end."""
    from workloads import REGISTRY_QUERIES

    done = [o for o in ops if not (o["failure"] or "").startswith("raised")]
    if kind == "crawl":
        return statistics.median(o["s"] for o in done)
    return sum(
        statistics.median(o["s"] for o in done if o["query"] == q) for q in REGISTRY_QUERIES
    )


def crawl_op(wl, spark, tracer, i: int) -> dict:
    try:
        secs, why, report = wl.op(spark, tracer, i)
    except Exception as exc:
        traceback.print_exc()
        return {"s": 0.0, "failure": f"raised {exc!r}"[:300], "traced": tracer.enabled}
    stages = {k: v.get("seconds", 0.0) for k, v in report["stages"].items()}
    return {"s": secs, "failure": why, "traced": tracer.enabled, "stages": stages}


def registry_pass(wl, spark, tracer) -> list[dict]:
    import workloads

    out = []
    for q in workloads.REGISTRY_QUERIES:
        try:
            secs, why = wl.run_query(spark, tracer, q)
        except Exception as exc:
            traceback.print_exc()
            secs, why = 0.0, f"raised {exc!r}"[:300]
        out.append({"query": q, "s": secs, "failure": why, "traced": tracer.enabled})
    return out


def traced_layers(wl, tracer, engine, ops, counts) -> dict:
    """Per-layer metrics that come from spans, the engine counts and the
    cold round's run_pipeline report."""
    import workloads
    from spans import layer_engine

    out: dict = {}
    med = statistics.median
    if wl.kind == "crawl":
        for layer in ("extract", "blocking", "pairs", "scoring", "cc"):
            out[f"operators.{layer}.s"] = tracer.seconds(f"operators.{layer}")
            for k, v in layer_engine(tracer, engine, f"operators.{layer}").items():
                out[f"operators.{layer}.{k}"] = v
        out["operators.cc.attach_s"] = tracer.seconds("operators.cc.attach")
        out["operators.extract.us_per_mention"] = (
            out["operators.extract.s"] / wl.n_lines * 1e6
        )
        cand = counts["operators.pairs.candidates"]
        out["operators.scoring.edge_yield"] = (
            counts["operators.scoring.edges"] / cand if cand else 0.0
        )
        first = next(o for o in ops if o["round"] == 0)
        for stage, s in first["stages"].items():
            out[f"plans.er_pipeline.{stage}_s"] = s
        out["plans.er_pipeline.fingerprint_s"] = first["s"] - sum(first["stages"].values())
        out["sources.pages.generate_s"] = tracer.seconds("sources.pages.generate")
    else:
        for q in workloads.REGISTRY_QUERIES:
            spans = tracer.by_name(f"queries.{q}")
            out[f"queries.{q}.s"] = med(s["end"] - s["start"] for s in spans)
            out[f"queries.{q}.spark_jobs"] = med(
                engine.get(s["id"], {}).get("spark_jobs", 0) for s in spans
            )
    untraced_wall = wall_seconds(wl.kind, [o for o in ops if o["round"] == 1])
    traced_wall = wall_seconds(wl.kind, [o for o in ops if o["round"] == 2])
    out["plans.session.get_spark_s"] = tracer.seconds("plans.session.get_spark")
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.traced_wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    return out


def design_check(wl, tracer) -> dict:
    """Whether the traced run shows the shape the workload was built for."""
    import workloads

    if wl.kind == "registry":
        times = {q: tracer.seconds(f"queries.{q}") for q in workloads.REGISTRY_QUERIES}
        return {"largest_query": max(times, key=times.get),
                "ok": max(times, key=times.get) == "er_clusters"}
    spans = {k: tracer.seconds(f"operators.{k}") for k in ("extract", "blocking", "pairs", "scoring", "cc")}
    total = tracer.seconds("layers")
    link = (spans["pairs"] + spans["scoring"] + spans["cc"]) / total
    extract = spans["extract"] / total
    largest = max(spans, key=spans.get)
    if wl.name == "crawl_unique":
        ok = largest == "extract"
    else:
        ok = link > 0.5 and extract < 0.25
    return {"largest_layer": largest, "link_share": link, "extract_share": extract, "ok": ok}


def smoke() -> int:
    """Every workload in both modes at toy sizes; every metric named in
    BENCHMARK.json must be emitted with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--toy"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            try:
                result = json.loads(out.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"FAIL {name} trace={trace}: no result (rc {out.returncode})\n{out.stderr[-2000:]}")
                bad += 1
                continue
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            missing = {k: u for k, u in want[trace].items() if got.get(k) != u}
            ok = not missing and out.returncode == 0
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name} trace={trace} correct={result['correct']} "
                  f"attempted={result['attempted']} missing={sorted(missing)}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes")
    ap.add_argument("--smoke", action="store_true", help="all workloads, both modes, toy sizes")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "indian_address_parser_spark")):
        print(f"perfbench: the package is not in {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    record, result = bench(args.workload, args.seed, args.seconds, bool(args.trace), args.toy)
    shown = {"failed_frac": record["failed_frac"], "pairwise_f1": record["pairwise_f1"]}
    shown.update({k: v["value"] for k, v in result["metrics"].items()})
    for k, v in shown.items():
        unit = result["metrics"].get(k, {}).get("unit", "ratio")
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
