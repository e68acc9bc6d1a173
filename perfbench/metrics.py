"""Arithmetic of the benchmark: probe sampling, percentiles, span self times
and the metric line. Pure functions over `run.json`, tested by
`perfbench/test_perfbench.py`."""
import math
import re
import statistics

# Registry name family -> group of the per-layer `mix.<group>` metrics. Every
# family is listed: a family that is in neither map fails the self-test, so a
# new one has to be placed on purpose.
GROUP_OF_FAMILY = {
    "r": "ref", "osm": "ref", "p": "sql", "x_ded": "dedup",
    "x_txt": "text", "x_tok": "text", "x_pipe": "pipe",
    "x_lnk": "link", "x_url": "link", "x_html": "link", "x_warc": "warc",
    "x_dec": "decon", "x_skt": "sketch", "x_sim": "sim", "x_ret": "sim",
}
OTHER_FAMILIES = {
    "x_smp", "x_pack", "x_mm", "x_cur", "x_rep", "x_mix", "x_qc", "x_src",
    "x_enc", "x_asof", "x_skew", "x_lay", "x_chunk", "x_bkt",
}
GROUPS = ["ref", "sql", "dedup", "text", "pipe", "link", "warc", "decon",
          "sketch", "sim", "other"]


def family(name):
    m = re.match(r"(x_[a-z]+|[a-z]+)", name)
    return m.group(1)


def group(name):
    f = family(name)
    if f in GROUP_OF_FAMILY:
        return GROUP_OF_FAMILY[f]
    if f in OTHER_FAMILIES:
        return "other"
    raise KeyError(f"probe family {f!r} of {name!r} has no group")


def sample_probes(names, share):
    """A sample stratified by group: max(1, round(share * size)) probes per
    group, evenly spaced through its sorted names. The sample does not depend
    on the seed (the seed sets the tables and the order of the probes): a
    seeded sample of this size moved p90 latency by a quarter between seeds."""
    picked = []
    for g in GROUPS:
        members = sorted(n for n in names if group(n) == g)
        k = max(1, round(share * len(members)))
        picked += [members[int((i + 0.5) * len(members) / k)] for i in range(k)]
    return picked


def percentile(values, p):
    """Nearest-rank percentile that needs at least 10 samples beyond it."""
    xs = sorted(values)
    rank = math.ceil(p / 100 * len(xs))
    if len(xs) - rank < 10:
        raise ValueError(f"p{p} of {len(xs)} samples leaves fewer than 10 beyond it")
    return xs[rank - 1]


def self_times(spans):
    """Span id -> duration minus the durations of its direct children."""
    own = {s["id"]: s["dur_ms"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["dur_ms"]
    return own


def _ok(samples):
    return [ms for ms in samples if ms >= 0]


def end_to_end(workload, run, inp_bytes, checked_ok):
    """The end-to-end metrics of one untraced run, and the operation counts."""
    setup_ms = run["jvm_to_main_ms"] + statistics.median(run["session_ms"]) + run["warm_ms"]
    lat = [ms for _, ms in run["queries"]]
    ok_lat = _ok(lat)
    pipeline = run["etl_ms"] if workload == "osm_etl" else run["chain_ms"]
    mb_per_s = inp_bytes / 1e6 / (statistics.median(_ok(pipeline)) / 1e3)
    m = {
        "setup_s": setup_ms / 1e3,
        "mb_per_s": mb_per_s,
        "query_p50_ms": percentile(ok_lat, 50),
        # printed beside the bounded metrics, not one of them: on a shared
        # 4-vCPU machine its spread over ten seeds reached 0.40 of its median
        "query_p90_ms": percentile(ok_lat, 90),
    }
    names = [n for n, _ in run["queries"]]
    attempted = len(pipeline) + len(lat)
    failed = sum(1 for ms in pipeline if ms < 0 or not checked_ok("pipeline"))
    failed += sum(1 for n, ms in run["queries"] if ms < 0 or not checked_ok(n))
    counts = {"pipeline_runs": len(pipeline), "query_samples": len(lat),
              "distinct_queries": len(set(names))}
    return m, attempted, failed, counts


SPARK_KEYS = ["jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
              "executor_cpu_ms", "gc_ms", "task_result_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "planning_ms"]
CORPUS_STAGES = ["quality", "dedup_exact", "dedup_minhash", "repetition",
                 "kn_score", "decontaminate", "sink"]
OSM_QUERIES = ["q1", "q1Literal", "q2", "q3", "q4", "q4Literal", "q5Oldest", "q5Newest"]


def per_layer(workload, run):
    """The per-layer metrics of one traced run (0 for a layer the workload
    does not exercise)."""
    spans = run["trace"]
    own = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    root = by_name["pass"][0]
    c = root["counters"]
    m = {f"spark.{k}": c[k] for k in SPARK_KEYS}
    m["spark.task_busy_ms"] = root["busy_ms"]
    m["spark.driver_only_ms"] = root["dur_ms"] - root["busy_ms"]
    m["spark.core_util"] = c["executor_run_ms"] / (root["dur_ms"] * run["cores"])
    m["setup.session_ms"] = run["jvm_to_main_ms"] + statistics.median(run["session_ms"])
    m["setup.warm_ms"] = run["warm_ms"]
    m["jvm.peak_rss_mb"] = run["peak_rss_kb"] / 1024
    m["trace.overhead_pct"] = 100 * (run["pass_ms_traced"] - run["pass_ms_untraced"]) \
        / run["pass_ms_untraced"]

    def one(name):
        return by_name[name][0]

    if workload == "osm_etl":
        for layer, key in [("osm.scan", "osm.scan_ms"), ("osm.shape", "osm.shape_ms"),
                           ("clean", "clean.ms"), ("osm.validate", "osm.validate_ms"),
                           ("osm.sink", "osm.sink_ms")]:
            m[key] = own[one(layer)["id"]]
        m["osm.scan_elements"] = one("osm.scan")["attrs"]["elements"]
        cl = one("clean")["attrs"]
        m["clean.values"] = cl["values"]
        m["clean.changed_ratio"] = cl["changed"] / cl["values"]
        sink = one("osm.sink")["attrs"]
        m["osm.bytes_out_per_in"] = sink["bytes_out"] / sink["bytes_in"]
        for q in OSM_QUERIES:
            m[f"osm.query_ms.{q}"] = statistics.median(
                own[s["id"]] for s in by_name[f"osm.query.{q}"])
    elif workload == "corpus_pipeline":
        for st in CORPUS_STAGES:
            s = one(f"corpus.{st}")
            m[f"corpus.{st}.ms"] = own[s["id"]]
            m[f"corpus.{st}.kept_ratio"] = s["attrs"]["rows_out"] / s["attrs"]["rows_in"]
        mh = one("corpus.dedup_minhash")["attrs"]
        removed = mh["rows_in"] - mh["rows_out"]
        m["dedup.minhash_candidates_per_removed"] = \
            one("dedup.candidates")["attrs"]["pairs"] / max(1, removed)
    probes = [s for s in spans if s["name"].startswith("mix.")]
    if probes:
        for g in GROUPS:
            gs = [s for s in probes if group(s["name"][4:]) == g]
            m[f"mix.{g}.wall_ms"] = sum(s["dur_ms"] for s in gs)
            m[f"mix.{g}.jobs"] = sum(s["counters"]["jobs"] for s in gs)
            m[f"mix.{g}.driver_only_ms"] = sum(s["dur_ms"] - s["busy_ms"] for s in gs)
    return m


def result(workload, run, verdict, bench, trace):
    ok = verdict["ok"]
    if trace:
        values = per_layer(workload, run)
        wanted = bench["per_layer"]
        probes = set(run.get("probe_names", []))
        bad = set(verdict["bad"])
        for f in run["failures"]:
            bad.add(f.split(":")[0].replace("answer ", ""))
        attempted = 1 + len(probes)
        failed = len(bad & probes) + (1 if bad - probes else 0)
        counts = {"probes": len(probes)}
    else:
        values, attempted, failed, counts = end_to_end(
            workload, run, verdict["input_bytes"], ok)
        wanted = bench["end_to_end"]
        failed += len([f for f in run["failures"] if f.startswith("answer ")])
    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]}
               for w in wanted}
    return {"correct": failed == 0 and not verdict["errors"], "attempted": attempted,
            "failed": failed, "metrics": metrics, "counts": counts, "all": values}


def summary(workload, run, res, verdict, cores):
    lines = [f"workload={workload} cores={cores} attempted={res['attempted']} "
             f"failed={res['failed']} correct={res['correct']}"]
    for k, v in sorted(res["counts"].items()):
        lines.append(f"  samples {k} = {v}")
    for k, v in res["metrics"].items():
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}")
    for k in sorted(set(res["all"]) - set(res["metrics"])):
        lines.append(f"  ({k} = {res['all'][k]:.6g}, not bounded)")
    for e in verdict["errors"][:20]:
        lines.append(f"  CHECK FAILED: {e}")
    for f in run["failures"][:20]:
        lines.append(f"  OPERATION FAILED: {f}")
    return lines


def trace_artifact(run, res):
    own = self_times(run["trace"])
    spans = [dict(s, self_ms=own[s["id"]]) for s in run["trace"]]
    return {"metrics": res["all"], "spans": spans,
            "pass_ms_untraced": run["pass_ms_untraced"],
            "pass_ms_traced": run["pass_ms_traced"], "cores": run["cores"]}
