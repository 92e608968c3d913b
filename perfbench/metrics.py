"""End-to-end metric arithmetic over the harness's per-operation records."""
import statistics

TAIL_BEYOND = 10


def tail(samples):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile label, sample count). With n samples the
    k-th smallest (k = n - 10) has exactly ten beyond it; its percentile is
    100 k / n. Fewer than 11 samples have no such percentile, and the
    maximum is reported instead, labelled as such."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], "max", n
    k = n - TAIL_BEYOND
    return s[k - 1], "p%g" % round(100.0 * k / n, 1), n


def failed_ops(ops, bad_names):
    """Operations that count as failed: those that threw or whose output
    digest differed from the verified reference, and every operation of a
    query whose reference itself failed its check."""
    return [o for o in ops if not o["ok"] or o["name"] in bad_names]


def end_to_end(ops, bad_names, setup_s):
    """The end-to-end metrics of a run's untraced operations.

    A failed operation counts as missing every latency figure: its latency
    is infinite for the median and the tail, and its input rows do not
    count towards rows_per_s (its time does)."""
    failed = failed_ops(ops, bad_names)
    failed_ids = {id(o) for o in failed}
    lat = [float("inf") if id(o) in failed_ids else o["seconds"] for o in ops]
    wall = sum(o["seconds"] for o in ops)
    rows = sum(o["rows"] for o in ops if id(o) not in failed_ids)
    tail_v, tail_label, n = tail(lat)
    return {
        "setup_s": setup_s,
        "rows_per_s": rows / wall if wall > 0 else 0.0,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "failed_frac": len(failed) / len(ops),
    }, {"samples": n, "tail_percentile": tail_label, "attempted": len(ops),
        "failed": len(failed)}
