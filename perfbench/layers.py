"""Per-layer metrics of a traced run.

Every value is derived from the traced ops of the run record: op spans
and their key.construct / key.execute children, the Spark jobs attributed
to those spans, the stages and tasks of those jobs, the visit pipeline's
own metrics.log records and the JVM counters read around each op. A
metric that does not apply to the workload (a visit timer on a query
workload, say) reads 0. layer_map.json lists every metric with the
end-to-end metrics and workloads it should move.
"""
import json
import os

from stats import descendants, median, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "layer_map.json")) as f:
    LAYER_MAP = json.load(f)
GROUPS = ("core", "geo", "dedup", "text", "mining")
MB = 1048576.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec, measured):
    traced = [op for op in measured if op["ok"] and op["traced"]]
    untraced = [op for op in measured if op["ok"] and not op["traced"]]
    values = {}
    values.update(spark_layer(rec, traced))
    values.update(query_layer(rec, traced))
    values.update(apdb_layer(rec, traced))
    values["jvm.gc_s"] = mean(op["gc_s"] for op in traced)
    values["jvm.jit_s"] = mean(op["jit_s"] for op in traced)
    values["host.calib_serial_s"] = mean(rec["calib_serial_s"])
    values["host.calib_par_s"] = mean(rec["calib_par_s"])
    t, u = median([op["wall_s"] for op in traced]), median([op["wall_s"] for op in untraced])
    values["trace.overhead_frac"] = t / u - 1.0 if t and u else 0.0
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in LAYER_MAP}


def op_jobs(rec, traced):
    """op span id -> the jobs fired under it, at any depth."""
    spans = rec["spans"]
    jobs_by_span = {}
    for j in rec["spark"]["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    out = {}
    for op in traced:
        ids = {op["span"]} | {s["id"] for s in descendants(spans, op["span"])}
        out[op["span"]] = [j for i in ids for j in jobs_by_span.get(i, [])]
    return out


def spark_layer(rec, traced):
    if not traced:
        return {}
    spans = {s["id"]: s for s in rec["spans"]}
    jobs = op_jobs(rec, traced)
    stages_by_job = {}
    for st in rec["spark"]["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    per_op = []
    for op in traced:
        js = jobs[op["span"]]
        sts = [st for j in js for st in stages_by_job.get(j["id"], [])]
        span = spans[op["span"]]
        skews = [st["task_max_s"] / st["task_med_s"] for st in sts
                 if st["tasks"] >= 2 and st["task_med_s"] > 0]
        per_op.append({
            "jobs": len(js), "stages": len(sts), "tasks": sum(st["tasks"] for st in sts),
            "sched": sum(st["sched_s"] for st in sts),
            "driver": self_time(span, js),
            "cpu": sum(st["cpu_s"] for st in sts), "run": sum(st["run_s"] for st in sts),
            "gc": sum(st["gc_s"] for st in sts),
            "skew": max(skews) if skews else 1.0,
            "sw": sum(st["shuffle_write"] for st in sts),
            "sr": sum(st["shuffle_read"] for st in sts),
            "srec": sum(st["shuffle_records"] for st in sts),
            "spill": sum(st["spill"] for st in sts),
            "in": sum(st["input"] for st in sts), "out": sum(st["output"] for st in sts),
            "parts": [st["tasks"] for st in sts if st["shuffle_read"] > 0],
        })
    wall = sum(op["wall_s"] for op in traced)
    return {
        "spark.jobs": mean(p["jobs"] for p in per_op),
        "spark.stages": mean(p["stages"] for p in per_op),
        "spark.tasks": mean(p["tasks"] for p in per_op),
        "spark.sched_wait_s": mean(p["sched"] for p in per_op),
        "spark.driver_s": mean(p["driver"] for p in per_op),
        "spark.task_cpu_s": mean(p["cpu"] for p in per_op),
        "spark.task_run_s": mean(p["run"] for p in per_op),
        "spark.task_gc_s": mean(p["gc"] for p in per_op),
        "spark.cpu_util": sum(p["cpu"] for p in per_op) / (wall * 4) if wall else 0.0,
        "spark.task_skew": median([p["skew"] for p in per_op]),
        "spark.exchange_parts": mean(x for p in per_op for x in p["parts"]),
        "spark.shuffle_write_mb": mean(p["sw"] for p in per_op) / MB,
        "spark.shuffle_read_mb": mean(p["sr"] for p in per_op) / MB,
        "spark.shuffle_records": mean(p["srec"] for p in per_op),
        "spark.spill_mb": mean(p["spill"] for p in per_op) / MB,
        "spark.input_mb": mean(p["in"] for p in per_op) / MB,
        "spark.output_mb": mean(p["out"] for p in per_op) / MB,
    }


def query_layer(rec, traced):
    keys = [op for op in traced if "group" in op]
    if not keys:
        return {}
    spans = rec["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs = op_jobs(rec, keys)
    construct, execute, eager = [], [], []
    for op in keys:
        kids = {s["name"]: s for s in by_parent.get(op["span"], [])}
        c, e = kids["key.construct"], kids["key.execute"]
        construct.append(c["end"] - c["start"])
        execute.append(e["end"] - e["start"])
        eager.append(sum(1 for j in jobs[op["span"]] if j["span"] == c["id"]))
    passes = sorted({op["pass"] for op in keys})
    out = {
        "queries.construct_s": mean(construct),
        "queries.execute_s": mean(execute),
        "spark.eager_jobs": mean(eager),
    }
    for g in GROUPS:
        out[f"queries.{g}_s"] = mean(
            sum(op["wall_s"] for op in keys if op["pass"] == p and op["group"] == g)
            for p in passes)
    for k in {op["name"] for op in keys}:
        out[f"queries.{k}_s"] = mean(op["wall_s"] for op in keys if op["name"] == k)
    return out


def metrics_log(text):
    """visit -> {(record name, table): values} from metrics.log lines."""
    out = {}
    for line in text.splitlines():
        _, _, body = line.partition("apdb_metrics: ")
        if not body:
            continue
        r = json.loads(body)
        visit = int(r["tags"]["visit"])
        out.setdefault(visit, {})[(r["name"], r["tags"]["table"])] = r["values"]
    return out


def apdb_layer(rec, traced):
    visits = [op for op in traced if "visit" in op]
    if not visits and "stats" not in rec:
        return {}
    log = metrics_log(rec["metrics_log"])

    def timer(v, name, table):
        return log.get(v, {}).get((name, table), {}).get("real", 0.0)

    rows = []
    for op in visits:
        v = op["visit"]
        detect = timer(v, "detect_time", "all")
        read = timer(v, "tile_read_time", "all")
        store = timer(v, "tile_store_time", "all")
        inserts = sum(val.get("real", 0.0) for (name, table), val in log.get(v, {}).items()
                      if name == "insert_time" and table != "DiaObjectLast")
        rows.append({
            "detect": detect, "store": store, "inserts": inserts,
            "obj": timer(v, "select_time", "DiaObject"),
            "src": timer(v, "select_time", "DiaSource"),
            "fsrc": timer(v, "select_time", "DiaForcedSource"),
            "merge": timer(v, "insert_time", "DiaObjectLast"),
            "other": op["wall_s"] - detect - read - store,
            "queries": log.get(v, {}).get(("select_query_stats", "DiaObject"), {})
            .get("num_queries", 0.0),
        })
    io = rec["visit_io"]
    read = sum(op["objects_read"] for op in visits)
    stored_rows = rec["object_versions"] + rec["stored_sources"] + rec["stored_forced"]
    return {
        "apdb.detect_s": mean(r["detect"] for r in rows),
        "apdb.select_object_s": mean(r["obj"] for r in rows),
        "apdb.select_source_s": mean(r["src"] for r in rows),
        "apdb.select_forced_s": mean(r["fsrc"] for r in rows),
        "apdb.store_s": mean(r["store"] for r in rows),
        "apdb.merge_last_s": mean(r["merge"] for r in rows),
        "apdb.insert_s": mean(r["inserts"] for r in rows),
        "apdb.other_s": mean(r["other"] for r in rows),
        "apdb.rows_read": mean(op["objects_read"] + op["hist_sources"] + op["hist_forced"]
                               for op in visits),
        "apdb.rows_stored": mean(2 * op["sources"] + op["forced"] for op in visits),
        "apdb.filter_keep_ratio": (sum(op["objects_filtered"] for op in visits) / read
                                   if read else 0.0),
        "apdb.spatial_queries": mean(r["queries"] for r in rows),
        "apdb.files_per_visit": mean(x["files"] for x in io),
        "apdb.bytes_per_visit": mean(x["bytes"] for x in io),
        "apdb.compact_s": mean(rec["compact_s"]),
        "apdb.night_s": rec["night_s"],
        "apdb.store_bytes_per_row": rec["store_bytes"] / stored_rows if stored_rows else 0.0,
    }

