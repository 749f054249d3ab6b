"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the program comes from here, and every
answer the checks expect is computed from the records returned here,
never from the program's own output.

Span corpus (ingest and lookup): trees rooted at a `frontend` server
span. Every remote call is a client span (caller's service, kind
`client`) with exactly one child server span (callee's service, kind
`server`) nested inside it, so the transformer pipeline merges each pair
into one span. Calls per trace are Pareto-distributed (heavy tail), a
share of spans are exact duplicates, a share arrive late (delivered in a
later batch file than their event time, but less than the sealing gap
late), and spans carry whitelisted tag fields plus infrastructure tags on
some server spans for the pipeline to propagate.

Events table (analytics): the testdata `events` schema and
distributions (event types, exponential values, `{"k": n}` props),
scaled down.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SERVICES = {
    "frontend": ["GET /home", "GET /product", "POST /cart"],
    "auth": ["verify", "refresh"],
    "catalog": ["lookup", "list", "price"],
    "cart": ["add", "get"],
    "checkout": ["place", "quote"],
    "payment": ["charge", "refund"],
    "inventory": ["reserve", "check"],
    "shipping": ["estimate", "label"],
}
CALLEES = [s for s in SERVICES if s != "frontend"]
REGIONS = ["us-east-1", "us-west-2", "eu-west-1"]
INFRA_PROVIDER = "X-HAYSTACK-INFRASTRUCTURE-PROVIDER"
INFRA_REGION = "X-HAYSTACK-AWS-REGION"

SPAN_FIELDS = ["trace_id", "span_id", "parent_span_id", "service", "operation",
               "start_us", "duration_us", "kind", "tags"]
SPAN_SCHEMA = pa.schema([
    ("trace_id", pa.string()), ("span_id", pa.int64()),
    ("parent_span_id", pa.int64()), ("service", pa.string()),
    ("operation", pa.string()), ("start_us", pa.int64()),
    ("duration_us", pa.int64()), ("kind", pa.string()), ("tags", pa.string())])

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, as in the testdata

# ingest sealing parameters: Ingest.GapSeconds / Ingest.MaxSpans in
# scala/Perfbench.scala pass the same values to SpanBufferStream.assemble
GAP_SECONDS = 10
MAX_SPANS = 64
SPANS_PER_FILE = 100
LATE_SHARE = 0.05
DUP_SHARE = 0.03
MAX_LATE_US = 8_000_000  # < GAP_SECONDS: a late span is never behind the watermark


def _tags(rng, service, kind):
    t = {"http.status_code": rng.choice(["200", "200", "200", "404", "500"]),
         "error": "true" if rng.random() < 0.05 else "false",
         "customer.tier": rng.choice(["free", "gold", "platinum"])}
    if kind == "server" and rng.random() < 0.5:
        t[INFRA_PROVIDER] = "aws"
        t[INFRA_REGION] = REGIONS[sorted(SERVICES).index(service) % len(REGIONS)]
    return t


def _trace(rng, tid, start, next_id):
    """One trace: root + client/server call pairs + a few local spans."""
    spans = []

    def add(parent, service, op, kind, s, d):
        sid = next_id[0]
        next_id[0] += 1
        spans.append({"trace_id": tid, "span_id": sid, "parent_span_id": parent,
                      "service": service, "operation": op, "start_us": s,
                      "duration_us": d, "kind": kind,
                      "tags": _tags(rng, service, kind)})
        return spans[-1]

    root = add(None, "frontend", rng.choice(SERVICES["frontend"]), "server",
               start, rng.randrange(500_000, 3_000_000))
    servers = [root]
    calls = min(80, int(rng.paretovariate(1.1)))
    for _ in range(calls):
        caller = rng.choice(servers)
        callee = rng.choice([s for s in CALLEES if s != caller["service"]])
        op = rng.choice(SERVICES[callee])
        # client strictly inside the caller, server strictly inside the
        # client: cs < sr <= ss < cr, so no clock-skew correction applies
        span = caller["duration_us"]
        c_off = rng.randrange(1, max(2, span // 2))
        c_dur = rng.randrange(max(4, span // 8), max(5, span - c_off))
        client = add(caller["span_id"], caller["service"], op, "client",
                     caller["start_us"] + c_off, c_dur)
        s_off = rng.randrange(1, max(2, c_dur // 10))
        s_dur = c_dur - s_off - rng.randrange(1, max(2, c_dur // 10))
        servers.append(add(client["span_id"], callee, op, "server",
                           client["start_us"] + s_off, max(1, s_dur)))
    for _ in range(rng.randrange(0, 3)):
        owner = rng.choice(servers)
        off = rng.randrange(0, max(1, owner["duration_us"] // 2))
        add(owner["span_id"], owner["service"], "local." + owner["operation"], "",
            owner["start_us"] + off, max(1, owner["duration_us"] // 4))
    return spans


def corpus(seed, n_traces, spacing_us=500_000, first_span_id=1):
    """Span records (dicts, tags as dict) for n_traces traces, in trace
    order, plus the delivery stream: records in arrival order with the
    duplicates added and late spans moved back."""
    rng = random.Random(seed)
    next_id = [first_span_id]
    spans = []
    for i in range(n_traces):
        start = T0_US + i * spacing_us + rng.randrange(spacing_us // 2)
        spans.extend(_trace(rng, f"tr-{seed % 1000:03d}-{i:06d}", start, next_id))
    delivery = []
    for seq, s in enumerate(spans):
        late = rng.random() < LATE_SHARE
        d = s["start_us"] + (rng.randrange(1_000_000, MAX_LATE_US) if late else 0)
        delivery.append((d, seq, s))
        if rng.random() < DUP_SHARE:
            delivery.append((s["start_us"] + rng.randrange(0, MAX_LATE_US), seq, s))
    delivery.sort(key=lambda x: (x[0], x[1]))
    return spans, [s for _, _, s in delivery]


def _table(records):
    cols = {f: [r[f] for r in records] for f in SPAN_FIELDS if f != "tags"}
    cols["tags"] = [json.dumps(r["tags"], sort_keys=True) for r in records]
    return pa.table(cols, schema=SPAN_SCHEMA)


def write_spans(path, records):
    pq.write_table(_table(records), path)


def stage_files(directory, delivered, n_files, mtime_base):
    """Cut the delivery stream into files of SPANS_PER_FILE spans. Each
    file's mtime is one second after the previous one, so the file
    source picks them up in delivery order. Returns the per-file span
    lists."""
    os.makedirs(directory, exist_ok=True)
    files = []
    for i in range(n_files):
        chunk = delivered[i * SPANS_PER_FILE:(i + 1) * SPANS_PER_FILE]
        if len(chunk) < SPANS_PER_FILE:
            break
        p = os.path.join(directory, f"batch-{i:05d}.parquet")
        write_spans(p, chunk)
        os.utime(p, (mtime_base + i, mtime_base + i))
        files.append(chunk)
    return files


# ------------------------------------------------------------ lookup requests

# one round holds one request of each type: nothing in the repo gives the
# real ratio of point reads to searches, so neither side is weighted
POINT_OPS = ["get_trace", "get_raw_span", "get_raw_traces", "call_graph"]
SEARCH_OPS = ["search", "expr_search", "counts", "field_values"]


def lookup_requests(seed, spans, n_rounds):
    """Rounds of the lookup mix (POINT_OPS + SEARCH_OPS), each round in a
    seeded order. Trace ids lean towards recent traces:
    index n-1-floor(n*u^3)."""
    rng = random.Random(seed * 7919 + 1)
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace_id"], []).append(s)
    tids = sorted(by_trace)
    n = len(tids)
    lo_us = min(s["start_us"] for s in spans)
    hi_us = max(s["start_us"] for s in spans)

    def recent():
        return tids[n - 1 - int(n * rng.random() ** 3)]

    def window():
        width = rng.choice([60, 300, 900]) * 1_000_000
        a = rng.randrange(lo_us, max(lo_us + 1, hi_us - width))
        return a, a + width

    rounds = []
    for _ in range(n_rounds):
        reqs = []
        for op in POINT_OPS + SEARCH_OPS:
            if op in ("get_trace", "call_graph"):
                reqs.append({"op": op, "trace_id": recent()})
            elif op == "get_raw_span":
                t = recent()
                reqs.append({"op": op, "trace_id": t,
                             "span_id": rng.choice(by_trace[t])["span_id"]})
            elif op == "get_raw_traces":
                reqs.append({"op": op, "trace_ids": sorted({recent() for _ in range(3)})})
            elif op == "search":
                a, b = window()
                reqs.append({"op": op, "service": rng.choice(CALLEES),
                             "start_us": a, "end_us": b, "limit": 20})
            elif op == "expr_search":
                a, b = window()
                svc = rng.choice(CALLEES)
                reqs.append({"op": op, "service": svc,
                             "operation": rng.choice(SERVICES[svc]),
                             "min_duration_us": rng.choice([1_000, 50_000, 200_000]),
                             "start_us": a, "end_us": b, "limit": 20})
            elif op == "counts":
                a, b = window()
                reqs.append({"op": op, "service": rng.choice(CALLEES),
                             "start_us": a, "end_us": b, "interval_us": 60_000_000})
            else:
                reqs.append({"op": op, "service": rng.choice(list(SERVICES))})
        rng.shuffle(reqs)
        rounds.append(reqs)
    return rounds


# ------------------------------------------------------------ analytics events

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "documents", "embeddings"]


def events(directory, seed, n_events, n_users):
    """events.parquet in the testdata schema: event_id ascending with ts,
    ts uniform over 30 days, uniform users and event types, values
    exponential (mean 50, cents), props {"k": 0..99}. The other testdata
    tables are written empty: the oracle checker opens a view on each,
    and none of the analytics surfaces reads them."""
    rng = random.Random(seed * 104729 + 3)
    span_us = 30 * 86_400_000_000
    ts = sorted(T0_US + rng.randrange(span_us) for _ in range(n_events))
    tbl = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)]),
        "value": pa.array([round(rng.expovariate(1 / 50.0), 2) for _ in range(n_events)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]),
    })
    os.makedirs(directory, exist_ok=True)
    pq.write_table(tbl, os.path.join(directory, "events.parquet"))
    for t in ORACLE_TABLES:
        pq.write_table(pa.table({"unused": pa.array([], pa.int64())}),
                       os.path.join(directory, f"{t}.parquet"))
