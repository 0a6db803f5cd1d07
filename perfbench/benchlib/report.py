"""Turns the runner's run record plus the output checks into the metric
values the benchmark reports."""
from . import stats

CODECS = ("uncompressed", "snappy", "zstd")
WRITE_KINDS = ("write",)
# layers whose self time the traced run reports, as named in spans
SPAN_LAYERS = ("bench", "scan", "FooterMeta", "ParquetKnobs", "WideTableGen",
               "Analytics", "Dedup", "Similarity", "TextOps", "engine")
QUERY_LAYERS = ("Analytics", "Dedup", "Similarity", "TextOps")
ENGINE_COUNTERS = ("executor_run_ms", "executor_cpu_ms", "gc_ms", "scheduler_delay_ms",
                   "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes")


class Accounting:
    """Attempted and failed operations of the measured phases. An
    operation fails when it raised or when its output was wrong; a failed
    operation's time never enters a metric."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def add(self, op, reason):
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.reasons.append(f"{op['id']} {op['kind']} {op['target']}: {reason}")

    @property
    def frac(self):
        return stats.failed_frac(self.attempted, self.failed)


def check_ops(record, checker):
    """Check every measured operation; failed ones get `ok` False."""
    acct = Accounting()
    for op in record["ops"]:
        if op["phase"] == "warmup":
            continue
        reason = op["error"] if not op["ok"] else None
        if reason is None:
            try:
                reason = checker.check(op)
            except Exception as e:  # a check that cannot run is a failed check
                reason = f"check failed: {type(e).__name__}: {e}"
        op["ok"] = reason is None
        acct.add(op, reason)
    return acct


def _ops(record, phase, kinds=None, ok=True):
    return [o for o in record["ops"] if o["phase"] == phase
            and (kinds is None or o["kind"] in kinds) and (o["ok"] or not ok)]


def _ms(ops):
    return [o["ms"] for o in ops]


def _med(xs, default=0.0):
    return stats.median(xs) if xs else default


def _write_samples(record, phase):
    """(ms, user bytes, stored bytes, codec) of the phase's write
    operations; a workload whose loop does not write reports the
    rewrites of its fixture after the set-ups instead."""
    ops = _ops(record, phase, WRITE_KINDS)
    if ops:
        return [(o["ms"], o["result"]["user_bytes"], o["result"]["stored_bytes"],
                 o["params"].get("codec", "snappy")) for o in ops]
    return [(w["ms"], w["user_bytes"], w["stored_bytes"], w["codec"]) for w in record["rewrites"]]


def _write_mb_s(record, phase):
    """User MB per second of one write of each codec, each at its median
    time."""
    w = _write_samples(record, phase)
    per = [[x for x in w if x[3] == c] for c in sorted({x[3] for x in w})]
    return (sum(stats.median([x[1] for x in c]) for c in per) / 1e6
            / (sum(stats.median([x[0] for x in c]) for c in per) / 1e3))


def tail_counts(record):
    return record["describe"].get("tail_counts", {})


def end_to_end(record, phase="plain"):
    """Every end-to-end metric value, keyed by name, plus a note per tail
    metric naming its percentile and sample count."""
    m, notes = {}, {}
    m["setup_s"] = (stats.median([s["total_s"] for s in record["setups"]])
                    + record.get("settle_ms", 0.0) / 1e3)
    m["peak_heap_mb"] = record["peak_heap_mb"]
    for kind in ("open", "subset", "lookup", "stats"):
        xs = _ms(_ops(record, phase, (kind,)))
        m[f"{kind}_ms.p50"] = _med(xs)
        if kind in ("open", "subset"):
            fixed = tail_counts(record).get(kind, len(xs))
            p = stats.tail_percentile(fixed)
            m[f"{kind}_ms.tail"] = stats.percentile(xs, p) if xs else 0.0
            notes[f"{kind}_ms.tail"] = f"p{p} of {len(xs)} samples (fixed count {fixed})"
    full = _ops(record, phase, ("full",))
    m["full_scan_mb_s"] = (stats.median([o["result"]["rows"] * o["result"]["row_width"] for o in full])
                           / 1e6 / (stats.median(_ms(full)) / 1e3)) if full else 0.0
    m["write_mb_s"] = _write_mb_s(record, phase)
    w = _write_samples(record, phase)
    m["stored_bytes_per_user_byte"] = sum(x[2] for x in w) / sum(x[1] for x in w)
    passes = [p["ms"] / 1e3 for p in record["passes"] if p["phase"] == phase]
    m["pass_s.p50"] = _med(passes)
    return m, notes


def per_layer(record, spec_names, checker):
    """Every per-layer metric of a traced run, keyed by name."""
    ph = "traced"
    m = {}
    setups = record["setups"]
    m["session.start_ms"] = stats.median([s["session_ms"] for s in setups])
    probes = record.get("probes", {})
    m["gen.wide_ms"] = probes.get("gen_wide_ms", 0.0)
    w = _write_samples(record, ph)
    for codec in CODECS:
        m[f"write.{codec}_ms"] = _med([x[0] for x in w if x[3] == codec])
        m[f"write.{codec}.stored_bytes"] = _med([x[2] for x in w if x[3] == codec])
    m["write.stage_cpu_ms"] = _med([o["counters"].get("executor_cpu_ms", 0.0)
                                    for o in _ops(record, ph, WRITE_KINDS)])
    m["write.row_groups"] = probes.get("row_groups", 0)
    m["write.footer_bytes"] = probes.get("footer_bytes", 0)

    spans = record["spans"]
    m["scan.resolve_ms"] = _med([(s["end_us"] - s["start_us"]) / 1e3 for s in spans
                                 if s["name"] == "spark.read.parquet"])
    m["footer.decode_us"] = probes.get("footer_decode_us", 0.0)
    m["footer.schema_build_us"] = probes.get("schema_build_us", 0.0)
    st = _ops(record, ph, ("stats",))
    m["footer.chunk_stats_ms"] = _med(_ms(st))
    m["footer.chunks"] = st[-1]["result"]["chunks"] if st else 0
    planned = [o["counters"]["plan_ms"] for o in _ops(record, ph) if o["counters"].get("plan_ms")]
    m["scan.plan_ms"] = _med(planned)
    subset = _ops(record, ph, ("subset",))
    exec_ms = {s["op"]: (s["end_us"] - s["start_us"]) / 1e3 for s in spans if s["name"] == "execute"}
    m["scan.exec_ms"] = _med([exec_ms[o["id"]] for o in subset if o["id"] in exec_ms])
    m["scan.bytes_read"] = _med([o["counters"].get("input_bytes", 0.0) for o in subset])
    amp = []
    for o in subset:
        projected = checker.chunk_bytes(o["params"]["path"], o["result"]["columns"])
        if projected:
            amp.append(o["counters"].get("input_bytes", 0.0) / projected)
    m["scan.read_amplification"] = _med(amp)
    lookups = _ops(record, ph, ("lookup",))
    fracs = []
    for o in lookups:
        total = checker.minmax(o["params"]["path"], [])[0]
        if total:
            fracs.append(o["counters"].get("scan_rows", 0.0) / total)
    m["scan.rows_read_frac"] = _med(fracs)

    queries = _ops(record, ph, ("query",))
    passes = [p for p in record["passes"] if p["phase"] == ph]
    n_pass = max(1, len(passes))
    for name in spec_names:
        if name.startswith("q.") and name.endswith("_ms"):
            q = name[2:-3]
            m[name] = _med(_ms([o for o in queries if o["target"] == q]))
        elif name.startswith("q.") and (name.endswith(".jobs") or name.endswith(".tasks")):
            q, what = name[2:].rsplit(".", 1)
            m[name] = _med([o["counters"].get(what, 0.0) for o in queries if o["target"] == q])
    for layer in QUERY_LAYERS:
        per_pass = {}
        for o in queries:
            if o["params"].get("layer") == layer:
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["ms"]
        m[f"layer.{layer}_ms"] = _med(list(per_pass.values()))

    traced = [o for o in record["ops"] if o["phase"] == ph]
    for c in ENGINE_COUNTERS:
        m[f"spark.{c}"] = sum(o["counters"].get(c, 0.0) for o in traced) / n_pass
    wall = next(p["wall_ms"] for p in record["phases"] if p["phase"] == ph)
    m["spark.core_util"] = (sum(o["counters"].get("executor_run_ms", 0.0) for o in traced)
                            / (wall * record["cpus"]))

    self_us = stats.self_times(spans)
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_ms"] = self_us.get(layer, 0) / 1e3 / n_pass

    plain = _med([p["ms"] for p in record["passes"] if p["phase"] == "plain"])
    traced_p50 = _med([p["ms"] for p in passes])
    m["trace.overhead_ms"] = traced_p50 - plain
    m["trace.overhead_pct"] = 100.0 * (traced_p50 - plain) / plain if plain else 0.0
    op_spans = [s for s in spans if s["parent"] == 0 and s["layer"] == "bench"]
    m["trace.op_coverage"] = sum(s["end_us"] - s["start_us"] for s in op_spans) / 1e3 / wall
    m["trace.spans"] = len(spans)
    return m
