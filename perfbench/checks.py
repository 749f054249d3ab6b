"""Correctness checks, made apart from the program: expectations come from
the generator's records (ingest, lookup) or from DuckDB via
tools/check_oracle.py (analytics). Each check returns a list of
problems; an empty list means the outputs are correct."""
import json
import os
import subprocess
import sys
from collections import Counter, defaultdict

import pyarrow.dataset as pads

import gen

AUX_MERGED = "X-HAYSTACK-IS-MERGED-SPAN"


def span_key(s):
    """A generator record in the program's Span form (ids as strings,
    root parent as "", tags as a sorted item tuple)."""
    parent = s["parent_span_id"]
    return (s["trace_id"], str(s["span_id"]), "" if parent is None else str(parent),
            s["service"], s["operation"], s["start_us"], s["duration_us"], s["kind"],
            tuple(sorted(s["tags"].items())))


def json_span_key(x):
    t, sid, parent, svc, op, start, dur, kind, tags = x
    return (t, sid, parent, svc, op, start, dur, kind, tuple(sorted(tags.items())))


def check(workload, run_dir, staged, res, root):
    if workload == "ingest":
        return ingest(run_dir, staged["files"], int(res["diag"]["files_consumed"]))
    if workload == "lookup":
        return lookup(run_dir, staged["delivered"])
    return analytics(run_dir, root)


# ------------------------------------------------------------------ ingest

def ingest(run_dir, files, consumed):
    out = os.path.join(run_dir, "ingest/out")
    problems = []
    inp = Counter(span_key(s) for f in files[:consumed] for s in f)
    rows = pads.dataset(os.path.join(out, "spans")).to_table().to_pylist()
    stored = Counter((r["traceId"], r["spanId"], r["parentSpanId"], r["service"],
                      r["operation"], r["startUs"], r["durationUs"], r["kind"],
                      tuple(sorted(r["tags"]))) for r in rows)
    extra = stored - inp
    if extra:
        problems.append(f"ingest: {sum(extra.values())} stored spans are not in the input "
                        f"or are stored more often than delivered, e.g. {next(iter(extra))}")
    by_trace_in = defaultdict(Counter)
    for k, n in inp.items():
        by_trace_in[k[0]][k] += n
    by_trace_st = defaultdict(Counter)
    for k, n in stored.items():
        by_trace_st[k[0]][k] += n
    gap_ms = gen.GAP_SECONDS * 1000
    final_max_ms = max(k[5] for k in inp) // 1000
    sealed = [t for t, c in by_trace_in.items()
              if max(k[5] for k in c) // 1000 + gap_ms < final_max_ms - gap_ms]
    incomplete = [t for t in sealed if by_trace_st.get(t) != by_trace_in[t]]
    if not sealed:
        problems.append("ingest: no trace met the sealing rule")
    if incomplete:
        problems.append(f"ingest: {len(incomplete)} of {len(sealed)} sealed traces are "
                        f"not stored complete, e.g. {incomplete[0]}")
    index = pads.dataset(os.path.join(out, "index")).to_table().to_pylist()
    idx = Counter()
    for r in index:
        idx[r["trace_id"]] += r["span_count"]
    st_counts = Counter({t: sum(c.values()) for t, c in by_trace_st.items()})
    if idx != st_counts:
        diff = set(idx.items()) ^ set(st_counts.items())
        problems.append(f"ingest: index span_count disagrees with stored spans, e.g. "
                        f"{sorted(diff)[:2]}")
    meta = {(r["service"], r["operation"])
            for r in pads.dataset(os.path.join(out, "meta")).to_table().to_pylist()}
    if meta != {(k[3], k[4]) for k in stored}:
        problems.append("ingest: service metadata disagrees with stored spans")
    print(f"[perfbench] ingest check: {sum(inp.values())} spans consumed, "
          f"{sum(stored.values())} stored, {len(sealed)} sealed traces complete",
          file=sys.stderr)
    return problems


# ------------------------------------------------------------------ lookup

def _summaries(records, trace_ids, limit):
    first = {}
    count = Counter()
    for s in records:
        if s["trace_id"] in trace_ids:
            first[s["trace_id"]] = min(first.get(s["trace_id"], s["start_us"]), s["start_us"])
            count[s["trace_id"]] += 1
    rows = sorted(([t, first[t], count[t]] for t in first), key=lambda r: (-r[1], r[0]))
    return rows[:limit]


def _structure(trace_id, spans):
    """Transformed trace: one root first, parents resolve, the rest sorted
    by start."""
    ids = {s[1] for s in spans}
    roots = [s for s in spans if s[2] == ""]
    if len(roots) != 1 or spans[0][2] != "":
        return f"{trace_id}: {len(roots)} roots"
    if any(s[2] and s[2] not in ids for s in spans):
        return f"{trace_id}: unresolved parent"
    starts = [s[5] for s in spans[1:]]
    if starts != sorted(starts):
        return f"{trace_id}: spans not sorted by start"
    return None


def lookup(run_dir, delivered):
    by_trace = defaultdict(list)
    for s in delivered:
        by_trace[s["trace_id"]].append(s)
    problems = []
    n = 0
    with open(os.path.join(run_dir, "responses.jsonl")) as f:
        responses = [json.loads(line) for line in f]
    for resp in responses:
        req = resp["request"]
        op = req["op"]
        n += 1
        bad = None
        if op in ("get_trace", "get_raw_span", "get_raw_traces"):
            if op == "get_trace":
                want = by_trace[req["trace_id"]]
            elif op == "get_raw_span":
                want = [s for s in by_trace[req["trace_id"]] if s["span_id"] == req["span_id"]]
            else:
                want = [s for t in req["trace_ids"] for s in by_trace[t]]
            if Counter(map(json_span_key, resp["raw"])) != Counter(map(span_key, want)):
                bad = "raw spans differ from the generated records"
            elif op == "get_trace":
                spans = resp["processed"]
                distinct = {span_key(s) for s in want}
                calls = sum(1 for k in distinct if k[7] == "client")
                merged = sum(1 for s in spans if AUX_MERGED in s[8])
                bad = _structure(req["trace_id"], spans)
                if bad is None and (merged != calls or len(spans) != len(distinct) - calls):
                    bad = (f"{len(spans)} spans / {merged} merged after the pipeline, "
                           f"expected {len(distinct) - calls} / {calls}")
        elif op == "call_graph":
            spans = {s["span_id"]: s for s in by_trace[req["trace_id"]]}
            want = []
            for s in spans.values():
                if s["kind"] == "server" and s["parent_span_id"] in spans:
                    c = spans[s["parent_span_id"]]
                    delta = c["duration_us"] - s["duration_us"] \
                        if s["duration_us"] < c["duration_us"] else -1
                    want.append([c["service"], c["operation"], s["service"], s["operation"],
                                 delta])
            if sorted(resp["edges"]) != sorted(want):
                bad = "call graph edges differ"
        elif op == "search":
            ids = {s["trace_id"] for s in delivered if s["service"] == req["service"]
                   and req["start_us"] <= s["start_us"] <= req["end_us"]}
            if resp["rows"] != _summaries(delivered, ids, req["limit"]):
                bad = "search results differ"
        elif op == "expr_search":
            g1 = {s["trace_id"] for s in delivered if s["service"] == req["service"]
                  and req["start_us"] <= s["start_us"] <= req["end_us"]}
            g2 = {s["trace_id"] for s in delivered if s["operation"] == req["operation"]
                  and s["duration_us"] >= req["min_duration_us"]}
            if resp["rows"] != _summaries(delivered, g1 & g2, req["limit"]):
                bad = "expression search results differ"
        elif op == "counts":
            c = Counter((s["start_us"] - req["start_us"]) // req["interval_us"]
                        for s in delivered if s["service"] == req["service"]
                        and req["start_us"] <= s["start_us"] <= req["end_us"])
            if sorted(map(tuple, resp["rows"])) != sorted(c.items()):
                bad = "trace counts differ"
        elif op == "field_values":
            want = sorted({s["operation"] for s in delivered if s["service"] == req["service"]})
            if sorted(r[0] for r in resp["rows"]) != want:
                bad = "field values differ"
        if bad:
            problems.append(f"lookup {op} {json.dumps(req)[:160]}: {bad}")
    if n == 0:
        problems.append("lookup: no responses recorded")
    print(f"[perfbench] lookup check: {n} responses, {len(problems)} wrong", file=sys.stderr)
    return problems


# ------------------------------------------------------------------ analytics

def analytics(run_dir, root):
    out = os.path.join(run_dir, "oracle_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    r = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"), out,
                        os.path.join(run_dir, "events"), ",".join(names)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(r.stdout)
    want = f"== {len(names)} pass, 0 fail"
    if r.returncode != 0 or want not in r.stdout:
        return [f"analytics: DuckDB oracle compare did not report '{want}'"]
    return []
