"""Metric arithmetic: percentiles, failure share and the per-run summary."""

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so p90 needs 100 samples.
MIN_TAIL = 10


def tail_supported(n, q):
    """True when ``n`` samples leave at least MIN_TAIL beyond quantile ``q``."""
    return n * (1.0 - q) >= MIN_TAIL - 1e-9


def min_samples(q):
    """Fewest samples for which quantile ``q`` is reportable."""
    return math.ceil(MIN_TAIL / (1.0 - q) - 1e-9)


def percentile(values, q):
    """Linear-interpolated quantile ``q`` (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def failed_share(attempted, failed):
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def expand(ops):
    """Latency samples (ms) of the ops that succeeded, one per user-visible
    op: an open-loop op is timed from when it was due, a closed-loop op
    from when it started."""
    out = []
    for _name, start, end, ok, weight, due in ops:
        if ok:
            t0 = due if due >= 0 else start
            out.extend([end - t0] * weight)
    return out


def stream_ops(stream, wrong_events=0):
    """One record per window payload of the open-loop stream, weighted by
    its events: due when the schedule said, done when the micro-batch
    that carried it committed. Micro-batches take source lines in order,
    so batch sizes map payloads to batches. ``wrong_events`` events the
    final check found missing or extra are marked failed."""
    rate, first, limit = stream["rate"], stream["first"], stream["limit"]
    rows = stream["rows_per_payload"]
    commit = [None] * limit
    taken = 0
    for _bid, lines, done, *_cpu in sorted(stream["batches"]):
        for i in range(taken, min(taken + lines, limit)):
            commit[i] = done
        taken += lines
    ops = []
    for i in range(first, limit):
        due = (i - first) * 1000.0 / rate
        done = commit[i]
        ops.append(["event", due, due if done is None else done,
                    done is not None, rows, due])
    for op in ops:
        if wrong_events <= 0:
            break
        if op[3]:
            op[3] = False
            wrong_events -= op[4]
    return ops


def generator_report(stream):
    """How late the generator sent (p90 over window payloads, ms) and how
    many sent rows were not yet committed when the window closed."""
    rows = stream["rows_per_payload"]
    return {
        "gen.sent_rows": stream["sent"] * rows,
        "gen.lateness_ms": percentile(stream["late_ms"], 0.9),
        "gen.backlog_rows": (stream["sent"] - stream["committed_at_end"]) * rows,
    }


def op_records(result):
    """Every op of a run as [name, start, end, ok, weight, due]."""
    if "stream" in result:
        return stream_ops(result["stream"], result.get("wrong_events", 0))
    return [[name, start, end, ok, 1, -1.0]
            for name, start, end, ok in result["ops"]]


def end_to_end(result, seconds):
    """The end-to-end metrics of one run, from the harness's raw result.
    Returns (attempted, failed, metrics)."""
    ops = op_records(result)
    window = result["window_s"]
    if "stream" in result:
        # the window closes when its last payload is due, or committed
        window = max([seconds] + [o[2] / 1000.0 for o in ops if o[3]])
    attempted = sum(o[4] for o in ops)
    failed = sum(o[4] for o in ops if not o[3])
    lat = expand(ops)
    for q in (0.5, 0.9):
        if not tail_supported(len(lat), q):
            raise ValueError(f"{len(lat)} samples cannot support p{q * 100:.0f}")
    if "pass_stamps" in result:
        ops_per_s, cpu_ms = pass_medians(ops, result["pass_stamps"])
    elif "stream" in result and batch_cpu(result["stream"]):
        ops_per_s = (attempted - failed) / window
        cpu_ms = interquartile_mean(batch_cpu(result["stream"]))
    else:
        ops_per_s = (attempted - failed) / window
        cpu_ms = result["cpu_s"] * 1000.0 / attempted
    return attempted, failed, {
        "setup_s": statistics.median(result["setup_s"]) + result["warmup_s"],
        "ops_per_s": ops_per_s,
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p90_ms": percentile(lat, 0.9),
        "cpu_ms_per_op": cpu_ms,
        "resident_mb": result["resident_mb"],
    }


def interquartile_mean(values):
    """Mean of the middle half of ``values``: as robust to a few outliers
    as the median, but not stuck on one value of a coarse clock (process
    CPU time moves in 10 ms ticks)."""
    xs = sorted(values)
    k = len(xs) // 4
    return statistics.fmean(xs[k:len(xs) - k])


def batch_cpu(stream):
    """CPU ms per event of each micro-batch committed in the window: the
    ops' CPU clock between the previous commit and this one, over the
    batch's events. Empty when the batches carry no CPU clock."""
    rows = stream["rows_per_payload"]
    out = []
    prev = None
    for _bid, lines, done, *cpu in sorted(stream["batches"]):
        if not cpu or cpu[0] is None or done is None:
            prev = None
            continue
        if prev is not None and done >= 0 and lines > 0:
            out.append((cpu[0] - prev) * 1000.0 / (lines * rows))
        prev = cpu[0]
    return out


def pass_medians(ops, stamps):
    """Throughput (succeeded ops per second) and CPU ms per attempted op
    of a closed loop that runs whole passes, each the median over its
    passes. ``stamps`` holds [window ms, CPU s] at every pass boundary.
    A pass slowed by another process on the machine moves the median
    less than it moves a whole-window mean."""
    rates, cpus = [], []
    for (t0, c0), (t1, c1) in zip(stamps, stamps[1:]):
        mine = [o for o in ops if t0 <= o[1] < t1]
        if not mine:
            raise ValueError("a pass without ops")
        rates.append(sum(o[4] for o in mine if o[3]) * 1000.0 / (t1 - t0))
        cpus.append((c1 - c0) * 1000.0 / sum(o[4] for o in mine))
    return statistics.median(rates), statistics.median(cpus)


def self_times(spans, since_ms=0.0):
    """Self time per span name (ms), summed over spans that start at or
    after ``since_ms``: a span's duration minus what its children cover."""
    kids = {}
    for sid, parent, _name, _op, start, end in spans:
        kids.setdefault(parent, []).append((start, end))
    out = {}
    ops = {}
    for sid, _parent, name, op, start, end in spans:
        if start < since_ms:
            continue
        covered = 0.0
        for a, b in _merge(kids.get(sid, [])):
            covered += max(0.0, min(b, end) - max(a, start))
        out[name] = out.get(name, 0.0) + (end - start) - covered
        ops.setdefault(name, set()).add(op)
    return out, {k: len(v) for k, v in ops.items()}


def _merge(intervals):
    merged = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged
