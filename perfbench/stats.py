"""Pure arithmetic of the benchmark: summaries, span self time, failure
counting and the canonical result digest. No I/O, no Spark."""
import hashlib
import math
import statistics

LADDER = (50.0, 90.0, 99.0, 99.9)


def summary(values):
    """Median plus the highest percentile of LADDER that still has at
    least ten samples beyond it, with the sample count. `pct` is None
    when fewer than eleven samples exist (only the median is reported)."""
    xs = sorted(values)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None,
           "pct": None, "pct_value": None}
    for p in LADDER:
        # nearest-rank index of the p-th percentile; samples strictly
        # above that index are "beyond" it
        k = max(0, math.ceil(round(p * n / 100.0, 9)) - 1)
        if n and n - 1 - k >= 10:
            out["pct"], out["pct_value"] = p, xs[k]
    return out


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    covered by its children (overlapping children are merged first)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    res = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(lo, c["start_s"]), min(hi, c["end_s"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        res[s["id"]] = (hi - lo) - covered
    return res


def count_failures(job_records, verdicts):
    """(attempted, failed) over job records from the JVM. A record fails
    when it raised (`error` set), when its result differs from the job's
    first result (`consistent` false), or when `verdicts` maps the job's
    name to a failed oracle check (every run of that job then counts)."""
    attempted = failed = 0
    for r in job_records:
        attempted += 1
        if (r.get("error") or r.get("consistent") is False
                or verdicts.get(r["name"]) is False):
            failed += 1
    return attempted, failed


def _cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(float(v) + 0.0)  # -0.0 == 0.0 in the reference compare
    return str(v)


def frame_digest(df):
    """Digest of a pandas frame under tools/check_correctness.py's rule:
    columns sorted by name, dtypes by their string form, each cell by str()
    except floats by value. Returns the column list, dtypes, row count,
    the positional hash and a hash of the sorted rows (the reference compare
    also accepts identical row sets in another order)."""
    cols = sorted(df.columns)
    d = df[cols]
    rows = [tuple(_cell(v) for v in row)
            for row in zip(*(list(d[c]) for c in cols))] if cols else []
    h_pos = hashlib.sha256(repr(rows).encode()).hexdigest()
    h_set = hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()
    return {"columns": cols, "dtypes": [str(t) for t in d.dtypes],
            "rows": len(d), "pos": h_pos, "set": h_set}


def digests_match(got, want):
    """True when two frame digests pass the reference compare."""
    return (got["columns"] == want["columns"]
            and got["dtypes"] == want["dtypes"]
            and got["rows"] == want["rows"]
            and (got["pos"] == want["pos"] or got["set"] == want["set"]))
