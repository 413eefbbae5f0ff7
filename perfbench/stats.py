"""Arithmetic of the benchmark, apart from all I/O so that it is unit-tested
(test_stats.py). Times are seconds on the harness clock; a span is a
(start, end) pair."""
import hashlib
import math
import statistics


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (percentile, value). With `beyond` or fewer samples no percentile has
    that many above it; the maximum is reported, as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return 100.0, s[-1]
    k = n - beyond
    return 100.0 * k / n, s[k - 1]


def clip(spans, lo, hi):
    """The parts of `spans` inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def union_length(spans):
    """Total length covered by the spans, overlaps counted once."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(wall, build, plan, job_spans, lo, hi):
    """Driver time of one call: its wall minus the build, minus planning,
    minus the union of the job spans inside [lo, hi] (the part after the
    build). Never negative: the listener's millisecond clock can make the
    parts add up to slightly more than the wall."""
    return max(0.0, wall - build - plan - union_length(clip(job_spans, lo, hi)))


def checksum_mismatches(source, target):
    """Tables whose row count or content checksum differs between the
    source and the migration target, as {table: (source, target)}. A table
    missing on either side is a mismatch."""
    return {t: (source.get(t), target.get(t))
            for t in sorted(set(source) | set(target))
            if source.get(t) != target.get(t)}


def render(v):
    """Canonical text of one output value for the oracle compare: -0.0 and
    0.0 agree, NaN is one token, timestamps compare as naive UTC."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if getattr(v, "tzinfo", None) is not None:
        return repr(v.replace(tzinfo=None) - v.utcoffset())
    return repr(v)


def result_hash(columns, rows):
    """Order-independent hash of a result: columns sorted by name, values
    rendered, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(render(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest(), len(lines)


# ------------------------------------------------------------ end to end

def op_wall(op):
    return op["end"] - op["start"]


def passes(ops):
    """Operations grouped by pass, in pass order."""
    out = {}
    for op in ops:
        out.setdefault(op.get("pass", len(out)), []).append(op)
    return [out[k] for k in sorted(out)]


def end_to_end(rec):
    """The end-to-end metrics of an untraced run. set-up is the median of
    the repeated session start-ups plus the one-time preparation the
    timed region relies on: the cold check pass and the warm-up pass over
    the queries, or the .accdb builds and the warm-up migration."""
    timed = rec["timed"]
    lat = [op_wall(op) for op in timed]
    prep = rec.get("prep_s", sum(op_wall(op) for op in rec.get("cold", []) + rec.get("warmup", [])))
    pct, tail_s = tail(lat)
    return {
        "setup_s": statistics.median(rec["setup_reps_s"]) + prep,
        "wall_s": statistics.median([sum(op_wall(op) for op in p) for p in passes(timed)]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_s,
    }, {"samples": len(lat), "tail_percentile": pct}


# ------------------------------------------------------------- per layer

def _in(t, spans, eps=0.002):
    """Whether t lies in one of the spans; eps absorbs the listener's
    millisecond truncation."""
    return any(a - eps <= t <= b + eps for a, b in spans)


def _plan(rec, span):
    return sum(q["plan_s"] for q in rec["qes"][span["qe_from"]:span["qe_to"]])


def _stages_of(rec, spans):
    """Stages of the jobs that started inside the spans."""
    ids = {s for j in rec["jobs"] if _in(j["start"], spans) for s in j["stages"]}
    return [st for st in rec["stages"] if st["id"] in ids]


def exec_layers(rec, spans, cores):
    jobs = [j for j in rec["jobs"] if _in(j["start"], spans)]
    stages = _stages_of(rec, spans)
    task_s = sum(s["task_s"] for s in stages)
    span_s = union_length([(s["start"], s["end"]) for s in stages])
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "exec.task_s": task_s,
        "exec.stage_span_s": span_s,
        "exec.core_util": task_s / (span_s * cores) if span_s > 0 else 0.0,
        "exec.gc_s": sum(h["gc_s"] for h in rec["hosts"]),
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / mb,
        "exec.failed_tasks": rec["failed_tasks"],
    }


ZERO_LAYERS = [
    "operators.build_s", "operators.build_jobs",
    "jetmdb.catalog_s", "jetmdb.decode_s", "jetmdb.decode_rows_per_s",
    "jetmdb.partitions", "etl.normalize_s", "etl.constraints_s",
    "etl.ddl_statements", "jdbc.load_s", "jdbc.write_tasks",
    "jdbc.rows_written", "jdbc.verify_s",
]


def query_layers(tr, cores):
    """Per-layer numbers of traced query passes, and each pass's wall: an
    operation has a build span (QDef.fn) and a write span (the noop
    sink)."""
    jobs = [(j["start"], j["end"]) for j in tr["jobs"]]
    out = dict.fromkeys(ZERO_LAYERS, 0.0)
    builds, writes, gap, plan, walls = [], [], 0.0, 0.0, {}
    compiles, compile_s = 0, 0.0
    for op in tr["ops"]:
        sp = {s["span"]: s for s in op["spans"]}
        b, w = sp.get("build"), sp.get("write")
        compiles += sum(s["compiles"] for s in op["spans"])
        compile_s += sum(s["compile_s"] for s in op["spans"])
        if b is None or w is None:
            continue
        builds.append((b["start"], b["end"]))
        writes.append((w["start"], w["end"]))
        bs, ws = b["end"] - b["start"], w["end"] - w["start"]
        p = _plan(tr, w)
        plan += p
        walls[op["pass"]] = walls.get(op["pass"], 0.0) + bs + ws
        gap += driver_gap(bs + ws, bs, p, jobs, w["start"], w["end"])
    out.update({
        "operators.build_s": sum(b - a for a, b in builds),
        "operators.build_jobs": sum(1 for j in tr["jobs"] if _in(j["start"], builds)),
        "plans.plan_s": plan,
        "plans.checkpoints_swept": sum(op["swept"] for op in tr["ops"]),
        "codegen.compiles": compiles,
        "codegen.compile_s": compile_s,
        "driver.gap_s": gap,
        "sources.cache_hit": sum(op["hit"] for op in tr["ops"]),
        "sources.cache_miss": sum(op["miss"] for op in tr["ops"]),
    })
    out.update(exec_layers(tr, builds + writes, cores))
    return out, [walls[k] for k in sorted(walls)]


def migrate_layers(tr, rows, cores):
    """Per-layer numbers of a traced migration: migrateJetMdb's public
    steps each in a span (catalog, load:T, verify:T, constraints) plus
    the decode and normalize probes (decode:T, normalize:T). Also returns
    each migration's wall without the probes."""
    out = dict.fromkeys(ZERO_LAYERS, 0.0)
    jobs = [(j["start"], j["end"]) for j in tr["jobs"]]
    sums, spans, walls = {}, {}, []
    compiles, compile_s, plan, gap = 0, 0.0, 0.0, 0.0
    for op in tr["ops"]:
        wall = 0.0
        for s in op["spans"]:
            kind = s["span"].split(":")[0]
            d = s["end"] - s["start"]
            sums[kind] = sums.get(kind, 0.0) + d
            spans.setdefault(kind, []).append((s["start"], s["end"]))
            if kind in ("decode", "normalize"):
                continue  # probes: not part of the migration itself
            wall += d
            compiles += s["compiles"]
            compile_s += s["compile_s"]
            p = _plan(tr, s)
            plan += p
            if kind in ("load", "verify"):
                gap += driver_gap(d, 0.0, p, jobs, s["start"], s["end"])
            if kind == "constraints":
                out["etl.ddl_statements"] += s.get("statements", 0)
        walls.append(wall)
    decode = sums.get("decode", 0.0)
    load_stages = _stages_of(tr, spans.get("load", []))
    written = sum(s["records_written"] for s in load_stages)
    migration = [sp for k, v in spans.items()
                 if k not in ("decode", "normalize") for sp in v]
    out.update({
        "plans.plan_s": plan,
        "codegen.compiles": compiles,
        "codegen.compile_s": compile_s,
        "driver.gap_s": gap,
        "plans.checkpoints_swept": 0,
        "sources.cache_hit": 0,
        "sources.cache_miss": 0,
        "jetmdb.catalog_s": sums.get("catalog", 0.0),
        "jetmdb.decode_s": decode,
        "jetmdb.decode_rows_per_s": rows * len(tr["ops"]) / decode if decode else 0.0,
        "jetmdb.partitions": sum(s["tasks"] for s in _stages_of(tr, spans.get("decode", []))),
        "etl.normalize_s": sums.get("normalize", 0.0) - decode,
        "etl.constraints_s": sums.get("constraints", 0.0),
        "jdbc.load_s": sums.get("load", 0.0) - decode,
        "jdbc.write_tasks": sum(s["tasks"] for s in load_stages),
        "jdbc.rows_written": written if written else rows * len(tr["ops"]),
        "jdbc.verify_s": sums.get("verify", 0.0),
    })
    out.update(exec_layers(tr, migration, cores))
    return out, walls
