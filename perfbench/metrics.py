"""Turns one JVM run record into checked results and metrics.

The JVM side records raw facts: operation walls, output digests, spans
and the Spark work its listener attributed to each span. Everything
derived (output checks, medians, self times, per-layer numbers) is
computed here, so it can be unit-tested without Spark.
"""

import math
import statistics

import gen

# Each workload times two operation kinds: the main one and a second one.
OPS = {
    "kv_load_verify": ("load", "verify"),
    "kv_lookup": ("get", "scan"),
    "near_dup_dedup": ("dedup", "pairs"),
}

END_TO_END = [  # name, unit, better
    ("setup_s", "s", "lower"),
    ("main_ms_p50", "ms", "lower"),
    ("second_ms_p50", "ms", "lower"),
    ("main_rows_per_s", "rows/s", "higher"),
]

LAYERS = ["ingest.parse", "ingest.enrich", "ingest.pack", "ingest.write",
          "ingest.get", "ingest.scan", "ingest.unpack", "dedup.minhash",
          "dedup.cluster", "text.quality", "dedup.keep_best"]
PER_LAYER_COMMON = [
    ("self_s", "s", "lower"), ("rows_out", "rows", "lower"),
    ("tasks", "count", "lower"), ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"), ("fetch_wait_s", "s", "lower"),
    ("task_skew", "ratio", "lower")]
PER_LAYER_EXTRA = [
    ("ingest.parse.clean_share", "ratio", "higher"),
    ("ingest.pack.rows_per_cell", "rows", "higher"),
    ("ingest.write.bytes", "bytes", "lower"),
    ("ingest.write.files", "count", "lower"),
    ("ingest.get.rows_read", "rows", "lower"),
    ("ingest.get.useful_share", "ratio", "higher"),
    ("ingest.scan.rows_read", "rows", "lower"),
    ("ingest.scan.useful_share", "ratio", "higher"),
    ("dedup.minhash.pairs", "count", "higher"),
    ("dedup.cluster.jobs", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.cpu_busy_share", "ratio", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.unattributed_s", "s", "lower"),
]
PER_LAYER = [("%s.%s" % (l, n), u, b) for l in LAYERS
             for n, u, b in PER_LAYER_COMMON] + PER_LAYER_EXTRA

MIN_BEYOND = 10  # samples a reported percentile needs above it


class InsufficientSamples(Exception):
    pass


def percentile(values, q):
    """Nearest-rank q-quantile. Above the median, a percentile is only
    reported with at least MIN_BEYOND samples beyond it; with fewer it
    raises instead of silently reporting a lower percentile."""
    if not values:
        raise InsufficientSamples("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if q > 0.5 and len(xs) - rank < MIN_BEYOND:
        raise InsufficientSamples(
            "p%g needs %d samples beyond it, have %d of %d"
            % (q * 100, MIN_BEYOND, len(xs) - rank, len(xs)))
    return xs[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []) if c["end"] > s["start"]
            and c["start"] < s["end"])
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


# ------------------------------------------------------------------ checks

def check(workload, raw, expect):
    """Flag every operation whose output is wrong. Returns a list of
    problems, one per failed operation."""
    problems = []
    batches = {b["dir"]: b for b in expect.get("batches", [])}
    corpus = expect.get("corpus")
    planted = set(map(tuple, corpus["planted"])) if corpus else set()
    for i, op in enumerate(raw["ops"]):
        out, kind = op["out"], op["kind"]
        why = None
        if op["failed"]:
            why = "raised"
        elif kind == "load":
            if out["store_files"] < 1 or out["store_bytes"] < 1:
                why = "empty store"
        elif kind == "verify":
            b = batches[out["batch"]]
            if (out["rows"], out["crc"]) != (b["rows"], b["checksum"]):
                why = "read-back %s != source %s" % (
                    (out["rows"], out["crc"]), (b["rows"], b["checksum"]))
        elif kind in ("get", "scan"):
            _, rows, crc, _ = expect["requests"][out["req"]]
            if (out["rows"], out["crc"]) != (rows, crc):
                why = "request %d returned %s, expected %s" % (
                    out["req"], (out["rows"], out["crc"]), (rows, crc))
        elif kind == "dedup":
            if out["kept"] != corpus["survivors"]:
                why = "kept %d docs, expected %d survivors" % (
                    len(out["kept"]), len(corpus["survivors"]))
        elif kind == "pairs":
            got = set(map(tuple, out["pairs"]))
            texts = corpus["texts"]
            missing = planted - got
            low = [p for p in got
                   if gen.jaccard(texts[p[0]], texts[p[1]]) < gen.THRESHOLD]
            if missing or low:
                why = "%d planted pairs missing, %d pairs below threshold" % (
                    len(missing), len(low))
        else:
            why = "unknown operation kind %s" % kind
        if why:
            problems.append("op %d (%s): %s" % (i, kind, why))
    return problems


# ----------------------------------------------------------------- metrics

def _walls(raw, kind, traced=False):
    return [o["ms"] for o in raw["ops"]
            if o["kind"] == kind and o["traced"] == traced and not o["failed"]]


def _rows(workload, op, expect):
    """Rows one operation handles, for the throughput metrics."""
    if workload == "kv_load_verify":
        for b in expect["batches"]:
            if b["dir"] == op["out"]["batch"]:
                return b["lines"] if op["kind"] == "load" else b["rows"]
    if workload == "kv_lookup":
        return op["out"]["rows"]
    return expect["corpus"]["docs"]


def setup_s(raw):
    return raw["session_s"] + statistics.median(raw["prep_ms"]) / 1000.0


def end_to_end(workload, raw, expect):
    main, second = OPS[workload]
    ops = [o for o in raw["ops"] if o["kind"] == main and not o["traced"]
           and not o["failed"]]
    return {
        "setup_s": setup_s(raw),
        "main_ms_p50": statistics.median(_walls(raw, main)),
        "second_ms_p50": statistics.median(_walls(raw, second)),
        "main_rows_per_s": statistics.median(
            _rows(workload, o, expect) / (o["ms"] / 1000.0) for o in ops),
    }


def detail(workload, raw, expect):
    """The workload's own metrics under the names the benchmark's doc
    uses (load_rows_per_s, get_ms_p50, ...), plus the input properties.
    A p90 is left out, with the reason, when the run is too short for it."""
    d = {"failed_share": len(check(workload, raw, expect))
         / max(len(raw["ops"]), 1)}

    def rate(kind):
        ops = [o for o in raw["ops"] if o["kind"] == kind and not o["traced"]
               and not o["failed"]]
        return sum(_rows(workload, o, expect) for o in ops) / (
            sum(o["ms"] for o in ops) / 1000.0)

    if workload == "kv_load_verify":
        d["load_rows_per_s"] = rate("load")
        d["verify_rows_per_s"] = rate("verify")
        loads = [o for o in raw["ops"] if o["kind"] == "load" and not o["failed"]]
        by_dir = {b["dir"]: b for b in expect["batches"]}
        d["store_bytes_per_input_byte"] = statistics.median(
            o["out"]["store_bytes"] / by_dir[o["out"]["batch"]]["bytes"]
            for o in loads)
    elif workload == "kv_lookup":
        d["store_bytes_per_input_byte"] = \
            raw["store"]["bytes"] / expect["batches"][0]["bytes"]
        for kind in ("get", "scan"):
            walls = _walls(raw, kind)
            d["%s_ms_p50" % kind] = statistics.median(walls)
            try:
                d["%s_ms_p90" % kind] = percentile(walls, 0.9)
            except InsufficientSamples as e:
                d["%s_ms_p90_omitted" % kind] = str(e)
    else:
        d["dedup_docs_per_s"] = rate("dedup")
    inputs = {"seed": expect["seed"]}
    if "batches" in expect:
        bs = expect["batches"]
        inputs.update(
            rows=sum(b["lines"] for b in bs), files=sum(b["files"] for b in bs),
            bytes=sum(b["bytes"] for b in bs),
            units=len(bs) * gen.SIZES["kv_files"] * gen.SIZES["kv_units"],
            tests=gen.SIZES["kv_tests"], cells=sum(b["cells"] for b in bs),
            malformed_share=sum(b["bad_lines"] for b in bs)
            / sum(b["lines"] for b in bs))
    if "corpus" in expect:
        c = expect["corpus"]
        inputs.update(rows=c["docs"], files=c["files"], bytes=c["bytes"],
                      dup_share=(c["near"] + c["exact"]) / c["docs"],
                      planted_pairs=len(c["planted"]),
                      survivors=len(c["survivors"]))
    d["inputs"] = inputs
    return d


def per_layer(workload, raw, expect):
    """Per-layer numbers from a traced run, per traced layer call; a layer
    the workload never calls reads 0."""
    spans = [s for s in raw["spans"] if s["req"] >= 0]
    work = {int(k): v for k, v in raw["work"].items()}
    selfs = self_times(spans)
    empty = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
             "shuffle_write": 0, "spill": 0, "fetch_wait_ms": 0,
             "records_read": 0, "records_written": 0, "task_ms": []}
    out = {name: 0.0 for name, _, _ in PER_LAYER}

    def calls(layer):
        return [s for s in spans if s["name"] == layer]

    def total(ss, key):
        return sum(work.get(s["id"], empty)[key] for s in ss)

    for layer in LAYERS:
        ss = calls(layer)
        if not ss:
            continue
        n = len(ss)
        task_ms = sorted(t for s in ss for t in work.get(s["id"], empty)["task_ms"])
        rows = [s["rows"] for s in ss]
        if layer == "ingest.write":
            rows = [work.get(s["id"], empty)["records_written"] for s in ss]
        out[layer + ".self_s"] = sum(selfs[s["id"]] for s in ss) / n / 1e9
        out[layer + ".rows_out"] = sum(rows) / n
        out[layer + ".tasks"] = total(ss, "tasks") / n
        out[layer + ".shuffle_write_bytes"] = total(ss, "shuffle_write") / n
        out[layer + ".spill_bytes"] = total(ss, "spill") / n
        out[layer + ".fetch_wait_s"] = total(ss, "fetch_wait_ms") / n / 1000.0
        if task_ms and statistics.median(task_ms) > 0:
            out[layer + ".task_skew"] = max(task_ms) / statistics.median(task_ms)
        if layer in ("ingest.get", "ingest.scan"):
            read = total(ss, "records_read") / n
            out[layer + ".rows_read"] = read
            out[layer + ".useful_share"] = sum(rows) / n / read if read else 0.0
        if layer == "dedup.minhash":
            out["dedup.minhash.pairs"] = sum(rows) / n
        if layer == "dedup.cluster":
            out["dedup.cluster.jobs"] = total(ss, "jobs") / n

    if workload == "kv_load_verify":
        if calls("ingest.parse"):
            lines = statistics.mean(b["lines"] for b in expect["batches"])
            out["ingest.parse.clean_share"] = out["ingest.parse.rows_out"] / lines
        if calls("ingest.pack"):
            out["ingest.pack.rows_per_cell"] = \
                out["ingest.enrich.rows_out"] / out["ingest.pack.rows_out"]
        loads = [o for o in raw["ops"] if o["kind"] == "load" and not o["failed"]]
        if loads:
            out["ingest.write.bytes"] = statistics.mean(
                o["out"]["store_bytes"] for o in loads)
            out["ingest.write.files"] = statistics.mean(
                o["out"]["store_files"] for o in loads)
    if workload == "kv_lookup":
        out["ingest.write.bytes"] = raw["store"]["bytes"]
        out["ingest.write.files"] = raw["store"]["files"]

    # whole run: the untraced requests of this traced run
    plain = [s for s in spans if s["parent"] == 0 and s["name"].endswith(".plain")]
    traced = [s for s in spans if s["parent"] == 0 and not s["name"].endswith(".plain")]
    if plain:
        n = len(plain)
        wall_ms = sum(s["end"] - s["start"] for s in plain) / 1e6
        out["spark.jobs"] = total(plain, "jobs") / n
        out["spark.stages"] = total(plain, "stages") / n
        out["spark.tasks"] = total(plain, "tasks") / n
        out["spark.cpu_busy_share"] = total(plain, "run_ms") / (wall_ms * raw["cores"])
        out["spark.gc_s"] = total(plain, "gc_ms") / n / 1000.0
    if traced:
        out["trace.unattributed_s"] = sum(
            selfs[s["id"]] for s in traced) / len(traced) / 1e9
    # tracing cost: per request type, the median traced request over the
    # median untraced one (request roots partition the work)
    t_sum = u_sum = 0.0
    for name in set(s["name"] for s in traced):
        t = [s["end"] - s["start"] for s in traced if s["name"] == name]
        u = [s["end"] - s["start"] for s in plain if s["name"] == name + ".plain"]
        if u:
            t_sum += statistics.median(t)
            u_sum += statistics.median(u)
    if u_sum:
        out["trace.overhead_share"] = t_sum / u_sum - 1.0
    return out
