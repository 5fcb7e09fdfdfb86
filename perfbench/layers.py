"""Span-tree arithmetic and the per-layer metrics of a traced run.

A span is ``[id, parent, name, start_s, end_s]`` (parent 0 = root),
recorded only around traced operations of the timed region.
Write commands observed by the listener, ``[start_s, end_s, files, bytes,
rows]``, become ``io.write`` spans under the innermost benchmark span that
contains them, so the time a graft function spends in its write counts as
``io`` and not as the function's own layer.  A span's self time is its
duration minus the part of its interval that its children cover.
"""


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def attach_writes(spans, writes, slack=0.002):
    """Return spans plus one ``io.write`` span per write command, parented
    to the innermost span containing it (writes outside every recorded
    span, e.g. of an untraced operation, are dropped).  ``slack`` absorbs
    the millisecond resolution of Spark's event times."""
    out = [list(s) for s in spans]
    next_id = max([s[0] for s in spans], default=0) + 1
    attached = []
    for ws, we, files, nbytes, rows in writes:
        best = None
        for s in spans:
            if s[3] - slack <= ws and we <= s[4] + slack:
                if best is None or s[4] - s[3] < best[4] - best[3]:
                    best = s
        if best is None:
            continue
        lo, hi = max(ws, best[3]), min(we, best[4])
        out.append([next_id, best[0], "io.write", lo, max(lo, hi)])
        attached.append((files, nbytes, rows))
        next_id += 1
    return out, attached


def self_times(spans):
    """Self time per span name: duration minus the union of its children's
    intervals clipped to the span."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    totals = {}
    for s in spans:
        kids = [(max(c[3], s[3]), min(c[4], s[4])) for c in children.get(s[0], [])]
        covered = union_length([k for k in kids if k[1] > k[0]])
        totals[s[2]] = totals.get(s[2], 0.0) + (s[4] - s[3]) - covered
    return totals


SPAN_METRICS = [
    "sources.fetch", "sources.parse", "pipeline.ingest", "pipeline.calendar",
    "pipeline.silver", "io.write", "io.ledger", "io.registry", "gold.build",
    "queries.plan", "queries.exec", "operators.gopher", "operators.decontam",
    "operators.pairs", "operators.semdedup",
    "functions.shingles", "functions.minhash", "functions.dot"]


def trace_overhead(ops):
    """Traced wall / untraced wall - 1 over the timed operations, comparing
    the mean traced and untraced wall of each operation (a platform ingest
    is named by its source, whatever the day)."""
    by = {}
    for o in ops:
        if o["phase"] == "timed":
            by.setdefault(o["name"].split("/")[0], ([], []))[0 if o["traced"] else 1].append(o["wall_s"])
    pairs = [(sum(t) / len(t), sum(u) / len(u)) for t, u in by.values() if t and u]
    if not pairs:
        return 0.0
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1


def per_layer(doc, rows_out=0):
    """All per-layer metrics of one traced run.  Totals (times, counts,
    bytes) are divided by the work units of the traced operations, so they
    read as cost per work unit whatever the run's length."""
    tr = doc["trace"]
    spans, writes = attach_writes(tr["spans"], tr["writes"])
    st = self_times(spans)
    traced_units = sum(o["units"] for o in doc["ops"]
                       if o["traced"] and o["phase"] == "timed" and o["ok"])
    done_units = sum(o["units"] for o in doc["ops"] if o["phase"] == "timed" and o["ok"])
    per = (lambda v: v / traced_units) if traced_units > 0 else (lambda v: 0.0)
    m = {f"{name}_s": per(st.get(name, 0.0)) for name in SPAN_METRICS}
    core = tr["core"]
    traced_wall = sum(o["wall_s"] for o in doc["ops"]
                      if o["traced"] and o["phase"] in ("timed", "timed_rerun"))
    m.update({
        "core.session_s": doc["setup"]["session_s"],
        "core.warm_s": doc["setup"]["warm_s"],
        "core.jobs": per(core["jobs"]), "core.tasks": per(core["tasks"]),
        "core.driver_share": max(0.0, 1 - core["critical_path_s"] / traced_wall)
        if traced_wall > 0 else 0.0,
        "core.task_run_s": per(core["task_run_s"]),
        "core.task_cpu_s": per(core["task_cpu_s"]),
        "core.gc_s": per(core["gc_s"]),
        "core.shuffle_write_bytes": per(core["shuffle_write_bytes"]),
        "core.shuffle_read_bytes": per(core["shuffle_read_bytes"]),
        "core.spill_bytes": per(core["spill_bytes"]),
    })
    checks, extra = doc["checks"], doc["extra"]
    twice = checks.get("run_twice", {})
    input_bytes = per(tr["sources_input_bytes"])
    bytes_written = per(sum(b for _, b, _ in writes))
    m.update({
        "sources.rows": twice["bronze_rows"] / done_units if twice else 0.0,
        "sources.input_bytes": input_bytes,
        "pipeline.skipped_ratio": checks.get("skipped_ratio", 0.0),
        "pipeline.rerun_s": checks.get("rerun_s", 0.0),
        "io.files_written": per(sum(f for f, _, _ in writes)),
        "io.bytes_written": bytes_written,
        "io.write_amplification": bytes_written / input_bytes if input_bytes else 0.0,
        "gold.rows": twice["gold_rows"] / twice["days"] if twice else 0.0,
        "queries.rows_out": rows_out,
        "operators.candidate_pairs": extra.get("candidate_pairs", 0),
        "operators.verified_pairs": extra.get("verified_pairs", 0),
        "operators.pair_yield": extra["verified_pairs"] / extra["candidate_pairs"]
        if extra.get("candidate_pairs") else 0.0,
        "host.calib_s": sum(doc["calib_s"]) / len(doc["calib_s"]),
        "trace.overhead": trace_overhead(doc["ops"]),
    })
    return m
