"""End-to-end metrics of a run, and per-layer metrics of a traced run."""
import json

from . import stats
from .workloads import FAMILIES, family

CLASSES = ("read", "write", "maint", "ddl")
REST_ENDPOINTS = ("config", "load_table", "commit", "create", "list",
                  "namespace", "view")


def _ms(rec):
    return (rec["t1"] - rec["t0"]) / 1e6


def end_to_end(result, verdicts):
    """Every end-to-end metric the run can give: {name: (value, unit, note)}.
    A class with no operations in the workload gives no latency metrics."""
    ops = result["ops"]
    failed = sum(1 for r in ops if verdicts.get(r["id"]) is not None)
    out = {}
    out["setup_s"] = (result["spark_start_s"] + result["setup_build_s"], "s",
                      f"session start {result['spark_start_s']:.2f} s + table build")
    for cls in CLASSES:
        lat = [_ms(r) for r in ops if r.get("cls") == cls]
        if not lat:
            continue
        out[f"{cls}_p50_ms"] = (stats.median(lat), "ms", f"n={len(lat)}")
        t = stats.tail(lat)
        if t and cls != "maint":
            p, v, beyond = t
            out[f"{cls}_tail_ms"] = (v, "ms", f"p{p:g}, n={len(lat)}, {beyond} beyond")
    secs = (result["end_ns"] - result["start_ns"]) / 1e9
    out["ops_per_s"] = ((len(ops) - failed) / secs, "1/s", f"{len(ops)} ops in {secs:.2f} s")
    out["failed_op_share"] = (failed / max(1, len(ops)), "ratio", f"{failed}/{len(ops)}")
    if result.get("live_data_bytes"):
        out["space_amp"] = (result["warehouse_bytes"] / result["live_data_bytes"], "ratio",
                            f"{result['warehouse_bytes']} / {result['live_data_bytes']} bytes")
    out["peak_rss_mb"] = (result["peak_rss_kb"] / 1024.0, "MB", "VmHWM")
    return out


def _endpoint_class(ep):
    method, _, path = ep.partition(" ")
    if path.endswith("/config"):
        return "config"
    if "/views" in path:
        return "view"
    if path.endswith("/tables/{t}"):
        return {"GET": "load_table", "HEAD": "load_table", "POST": "commit"}.get(method, "other")
    if path.endswith("/tables"):
        return "create" if method == "POST" else "list"
    if "/namespaces" in path:
        return "namespace"
    return "other"


def spans(result):
    """Spans of every measured operation, rebuilt from the runner's
    timestamps and Spark job records. Parent = the innermost span of the
    same operation whose interval holds the child's start."""
    ms_to_ns = lambda ms: result["start_ns_at_wall"] + (ms - result["start_wall_ms"]) * 1e6
    jobs = {}
    for j in result.get("jobs", []):
        if j["end_ms"] >= 0:
            jobs.setdefault(j["group"], []).append(j)
    out = []
    for rec in result["ops"]:
        oid = rec["id"]
        base = len(out)
        t0, t1 = rec["t0"], rec["t1"]
        own = [dict(kind="op", name=rec.get("cls", ""), start=t0, end=t1)]
        if "t_analyzed" in rec:
            own.append(dict(kind="spark.analyze", name="sql", start=t0, end=rec["t_analyzed"]))
            own.append(dict(kind="spark.plan", name="executedPlan",
                            start=rec["t_analyzed"], end=rec["t_planned"]))
        last_end = None
        for j in jobs.get(str(oid), []):
            a = min(max(ms_to_ns(j["start_ms"]), t0), t1)
            b = min(max(ms_to_ns(j["end_ms"]), a), t1)
            own.append(dict(kind="exec.job", name=f"job {j['id']}", start=a, end=b,
                            tasks=j["tasks"], input_bytes=j["input_bytes"],
                            shuffle_bytes=j["shuffle_bytes"]))
            last_end = b if last_end is None else max(last_end, b)
        if rec.get("cls") in ("write", "maint"):
            own.append(dict(kind="table.commit_tail", name="commit",
                            start=last_end if last_end is not None else t0, end=t1))
        depth = {"op": 0, "spark.analyze": 1, "spark.plan": 1,
                 "exec.job": 2, "table.commit_tail": 2}
        for i, s in enumerate(own):
            s.update(id=base + i, op=oid, parent=None)
            if s["kind"] == "op":
                s["counters"] = rec.get("counters", {})
                s["scan"] = rec.get("scan", {})
                continue
            holders = [p for p in own
                       if depth[p["kind"]] < depth[s["kind"]]
                       and p["start"] <= s["start"] <= p["end"]]
            s["parent"] = max(holders, key=lambda p: depth[p["kind"]])["id"]
        out.extend(own)
    return out


LAYER_OF_SPAN = {"op": "driver", "spark.analyze": "spark", "spark.plan": "spark",
                 "exec.job": "exec", "table.commit_tail": "table"}


def per_layer(result, verdicts, untraced_ops_per_s, span_path):
    """Per-layer metrics of a traced run; writes its spans to span_path."""
    ops = result["ops"]
    n = max(1, len(ops))
    sp = spans(result)
    with open(span_path, "w") as f:
        for s in sp:
            f.write(json.dumps(s) + "\n")
    selfs = stats.self_times(sp)
    by_op = {}
    for s in sp:
        by_op.setdefault(s["op"], []).append(s)

    def total(key):
        return sum(r.get("counters", {}).get(key, 0) for r in ops)

    def scan(key):
        return sum(r.get("scan", {}).get(key, 0) for r in ops)

    m = {}
    m["spark.analyze_ms"] = sum(r.get("t_analyzed", r["t0"]) - r["t0"] for r in ops) / n / 1e6
    m["spark.plan_ms"] = sum(r.get("t_planned", 0) - r.get("t_analyzed", 0) for r in ops) / n / 1e6
    m["spark.scan.files_live"] = scan("liveDataFiles") / n
    m["spark.scan.files_planned"] = scan("plannedDataFiles") / n
    m["spark.scan.prune_ratio"] = (scan("prunedDataFiles") / scan("liveDataFiles")
                                   if scan("liveDataFiles") else 0.0)
    m["spark.scan.bytes_planned"] = scan("plannedBytes") / n
    m["spark.scan.delete_files"] = scan("deleteFilesApplied") / n
    result_rows = sum(r.get("result_rows", 0) for r in ops)
    m["spark.scan.rows_per_result_row"] = scan("scanRows") / result_rows if result_rows else 0.0

    job_spans = [s for s in sp if s["kind"] == "exec.job"]
    m["exec.jobs"] = len(job_spans) / n
    m["exec.tasks"] = sum(s["tasks"] for s in job_spans) / n
    m["exec.input_bytes"] = sum(s["input_bytes"] for s in job_spans) / n
    m["exec.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in job_spans) / n
    covered = 0.0
    for oid, group in by_op.items():
        op = group[0]
        covered += stats.union_length([(s["start"], s["end"]) for s in group
                                       if s["kind"] == "exec.job"], op["start"], op["end"])
    wall = sum(r["t1"] - r["t0"] for r in ops)
    m["exec.job_ms"] = covered / n / 1e6
    m["exec.driver_gap_ms"] = (wall - covered) / n / 1e6

    commits = [r for r in ops if r.get("cls") in ("write", "maint")]
    tails = [s for s in sp if s["kind"] == "table.commit_tail"]
    m["table.commit_tail_ms"] = (sum(s["end"] - s["start"] for s in tails) / len(tails) / 1e6
                                 if tails else 0.0)
    m["table.footer_reads"] = total("table.footer_reads") / n
    for cls in ("metadata_json", "manifest_list", "manifest"):
        m[f"table.meta_reads.{cls}"] = total(f"table.meta_reads.{cls}") / n
        m[f"table.meta_reads.{cls}_bytes"] = total(f"table.meta_reads.{cls}_bytes") / n
    nc = max(1, len(commits))
    meta_classes = ("metadata_json", "manifest_list", "manifest")
    m["table.meta_writes"] = sum(r.get("counters", {}).get(f"table.meta_writes.{c}", 0)
                                 for r in commits for c in meta_classes) / nc
    m["table.meta_write_bytes"] = sum(r.get("counters", {}).get(f"io.bytes_written.{c}", 0)
                                      for r in commits for c in meta_classes) / nc
    m["table.snapshots_end"] = float(result.get("snapshots_end", 0))
    m["table.manifests_end"] = float(result.get("manifests_end", 0))
    m["table.maint_bytes_rewritten"] = float(sum(
        v for r in ops if r.get("cls") == "maint"
        for k, v in r.get("counters", {}).items() if k.startswith("io.bytes_written.")))

    for kind in ("open", "create", "rename", "delete", "list", "stat", "mkdirs"):
        m[f"io.{kind}"] = total(f"io.{kind}") / n
    m["io.call_ms"] = total("io.call_ns") / n / 1e6
    m["io.bytes_read"] = total("io.bytes_read") / n
    written = sum(v for r in ops for k, v in r.get("counters", {}).items()
                  if k.startswith("io.bytes_written."))
    m["io.bytes_written"] = written / n
    data_written = sum(r.get("counters", {}).get("io.bytes_written.data", 0)
                       for r in ops if r.get("cls") == "write")
    m["io.write_amp"] = written / data_written if data_written else 0.0

    reqs = total("rest.requests")
    m["rest.requests"] = reqs / n
    m["rest.ms"] = total("rest.ns") / n / 1e6
    m["rest.request_ms"] = total("rest.ns") / reqs / 1e6 if reqs else 0.0
    per_ep = {c: 0 for c in REST_ENDPOINTS}
    for r in ops:
        for k, v in r.get("counters", {}).items():
            if k.startswith("rest.ep."):
                c = _endpoint_class(k[len("rest.ep."):])
                if c in per_ep:
                    per_ep[c] += v
    for c in REST_ENDPOINTS:
        m[f"rest.requests.{c}"] = per_ep[c] / n
    m["rest.server_metadata_reads"] = total("rest.server_metadata_reads") / n

    for fam in FAMILIES:
        lat = [_ms(r) for r in result.get("kernel_ops", []) if family(r["key"]) == fam]
        m[f"ops.family_ms.{fam}"] = stats.median(lat) if lat else 0.0

    m["jvm.gc_ms"] = total("jvm.gc_ms") / n
    m["jvm.heap_after_gc_mb"] = float(result.get("heap_after_gc_mb", 0.0))

    layer_self = {"driver": 0, "spark": 0, "exec": 0, "table": 0}
    for s in sp:
        layer_self[LAYER_OF_SPAN[s["kind"]]] += selfs[s["id"]]
    for layer, v in layer_self.items():
        m[f"self.{layer}_ms"] = v / n / 1e6

    secs = (result["end_ns"] - result["start_ns"]) / 1e9
    failed = sum(1 for r in ops if verdicts.get(r["id"]) is not None)
    traced = (len(ops) - failed) / secs
    m["trace.ops_per_s"] = traced
    m["trace.overhead_ops_per_s"] = untraced_ops_per_s - traced
    return m
