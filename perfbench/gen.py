"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and is a pure function of its
arguments: the same seed gives byte-identical files, a different seed gives
different files (see tests/test_gen.py). The program under test only ever
sees the files written here.

- chain scripts: the block-stream messages a chain node would send
  (blocks, events per block, pending/accepted pairs, reorg schedule), one
  JSON object per line; the JVM side renders each line in the wire grammar
  through `BlockStreamWire`;
- the `events` corpus: the testdata `events` schema at a given row count,
  plus minimal placeholder tables for the other base tables that
  `Fixtures.register` expects (no view or loop entry of the benchmark reads
  them);
- the felt-encoded decode batch fed to `EventProcessors.decodeAll`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENESIS_TS = 1704067200  # 2024-01-01T00:00:00Z, block time = GENESIS_TS + 30 * number
FORK_EVENT_OFFSET = 100  # re-emitted (forked) blocks carry event indices >= this


def _rng(seed, stream):
    # one independent stream per generator, so adding a generator never
    # shifts the inputs of another
    return np.random.default_rng([int(seed), stream])


def block_events(rng, n_events, offset=0):
    """(transaction_index, event_index) pairs of one block: `n_events`
    events spread over a seeded number of transactions, all pairs unique."""
    txs = int(rng.integers(1, 9))
    return [[e % txs, offset + e // txs] for e in range(n_events)]


def _block(number, events):
    return [number, GENESIS_TS + 30 * number, events]


def backfill_script(seed, blocks=2500, events_per_block=40, per_message=25):
    """Closed-loop backlog: `blocks` accepted blocks, `per_message` per data
    message. Returns the message list."""
    rng = _rng(seed, 1)
    chain = [_block(b, block_events(rng, events_per_block)) for b in range(1, blocks + 1)]
    return [{"t": "data", "fin": "accepted", "blocks": chain[i:i + per_message]}
            for i in range(0, blocks, per_message)]


def live_script(seed, blocks, rate_per_s, events_per_block=40, reorg_every=30):
    """Open-loop schedule: block i is due at (i - 1) / rate. At its tick the
    previous head is re-sent as accepted and block i is sent as the pending
    head. A reorg comes in the middle of every `reorg_every` blocks (blocks
    15, 45, ... by default), so every seed's schedule holds the same number
    of reorgs at the same places: that tick first invalidates the last 1-3
    (seeded) accepted blocks and re-emits them with different events (a
    fork). The stream ends as the next tick would begin: the last head
    re-sent as accepted, then a heartbeat one period later.

    Each line carries `at_ms` (scheduled send offset) and `block` (the block
    this message makes visible for the first time, or 0)."""
    rng = _rng(seed, 2)
    period = 1000.0 / rate_per_s
    content = {}
    lines = []
    for i in range(1, blocks + 1):
        at = round((i - 1) * period, 3)
        content[i] = block_events(rng, events_per_block)
        if i > 1:
            lines.append({"t": "data", "fin": "accepted", "blocks": [_block(i - 1, content[i - 1])],
                          "at_ms": at, "block": 0})
        if i % reorg_every == reorg_every // 2 and i > 4:
            depth = int(rng.integers(1, 4))
            first = i - depth
            lines.append({"t": "invalidate", "key": first - 1, "at_ms": at, "block": 0})
            for b in range(first, i):
                content[b] = block_events(rng, events_per_block, FORK_EVENT_OFFSET)
            lines.append({"t": "data", "fin": "accepted",
                          "blocks": [_block(b, content[b]) for b in range(first, i)],
                          "at_ms": at, "block": 0})
        lines.append({"t": "data", "fin": "pending", "blocks": [_block(i, content[i])],
                      "at_ms": at, "block": i})
    # end of stream: the last head accepted at the next tick, and one tick
    # later a heartbeat (a message is read when the next one arrives)
    lines.append({"t": "data", "fin": "accepted", "blocks": [_block(blocks, content[blocks])],
                  "at_ms": round(blocks * period, 3), "block": 0})
    lines.append({"t": "heartbeat", "at_ms": round((blocks + 1) * period, 3), "block": 0})
    return lines


def write_script(lines, path):
    with open(path, "w") as f:
        for line in lines:
            f.write(json.dumps(line, separators=(",", ":")) + "\n")


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_table(seed, rows):
    """The testdata `events` schema: event_id 0..rows-1, a month of
    increasing timestamps, rows/66.7 users, five event types, a two-decimal
    exponential value and a small JSON props string."""
    rng = _rng(seed, 3)
    users = max(15, rows * 3 // 200)
    start_us = GENESIS_TS * 1_000_000
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, rows)) + start_us
    value = np.round(rng.exponential(50.0, rows), 2)
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)].tolist()),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, rows)]),
    })


def placeholder_tables():
    """One-row tables with the testdata schema for the base tables the
    benchmark's entries never read; `Fixtures.register` needs them to
    exist."""
    ts = pa.array([GENESIS_TS * 1_000_000], type=pa.timestamp("us"))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def t(**cols):
        return pa.table({k: pa.array([v], type=ty) if not isinstance(v, pa.Array) else v
                         for k, (v, ty) in cols.items()})
    return {
        "region": t(r_regionkey=(0, i32), r_name=("AFRICA", s)),
        "nation": t(n_nationkey=(0, i32), n_name=("ALGERIA", s), n_regionkey=(0, i32)),
        "customer": t(c_custkey=(1, i64), c_name=("c1", s), c_nationkey=(0, i32),
                      c_acctbal=(1.0, f64), c_mktsegment=("BUILDING", s)),
        "supplier": t(s_suppkey=(1, i64), s_name=("s1", s), s_nationkey=(0, i32), s_acctbal=(1.0, f64)),
        "part": t(p_partkey=(1, i64), p_name=("p1", s), p_brand=("b1", s), p_type=("t1", s),
                  p_size=(1, i32), p_retailprice=(1.0, f64)),
        "orders": t(o_orderkey=(1, i64), o_custkey=(1, i64), o_orderstatus=("O", s),
                    o_totalprice=(1.0, f64), o_orderdate=(ts, None), o_orderpriority=("1-URGENT", s)),
        "lineitem": t(l_orderkey=(1, i64), l_partkey=(1, i64), l_suppkey=(1, i64),
                      l_linenumber=(1, i32), l_quantity=(1.0, f64), l_extendedprice=(1.0, f64),
                      l_discount=(0.0, f64), l_tax=(0.0, f64), l_returnflag=("N", s),
                      l_linestatus=("O", s), l_shipdate=(ts, None)),
        "documents": t(doc_id=(1, i64), text=("placeholder text", s), lang=("en", s),
                       source=("web", s), n_chars=(16, i64)),
        "embeddings": t(vec_id=(1, i64), embedding=(pa.array([[1.0, 0.0]], type=pa.list_(pa.float32())), None),
                        label=(0, i32)),
    }


def write_corpus(seed, rows, out_dir):
    """A complete `sfDir` for `Fixtures.register`: the seeded `events`
    table plus the placeholder base tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = dict(placeholder_tables(), events=events_table(seed, rows))
    for name, table in sorted(tables.items()):
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


def decode_table(seed, blocks=2500, events_per_block=40):
    """Felt-encoded raw events, the backfill volume: per event an
    emitter, keys[0] and a `data` felt array in the layout of one of three
    core processors (Swapped, PoolInitialized, ProtocolFeesWithdrawn),
    seeded amounts. keys[0] holds the processor's name; the JVM side swaps
    in the registry's selector before decoding."""
    rng = _rng(seed, 4)
    n = blocks * events_per_block
    kind = rng.integers(0, 10, n)  # 0-6 swap, 7 init, 8 withdrawn, 9 foreign emitter
    amt = rng.integers(1, 1 << 40, n)
    pool = rng.integers(0, 16, n)
    hx = lambda v: "0x%x" % int(v)
    emitter, key0, data = [], [], []
    for i in range(n):
        k, a, p = int(kind[i]), int(amt[i]), int(pool[i])
        key = [hx(p % 5 + 1), hx(p % 5 + 6), hx(1 << 64), hx(10 * (1 + p % 3)), "0x0"]
        if k <= 6 or k == 9:
            d = ([hx(0xabc + p)] + key + [hx(a), "0x0", "0x1", "0x0", "0x1", "0x0",
                 hx(a * 3), "0x0", hx(a * 2), "0x1", hx(a), "0x1", hx(a % 997), "0x1", hx(a + 7)])
            s = "swapped"
        elif k == 7:
            d = key + [hx(a % 5000), "0x1", hx(a), "0x0"]
            s = "initialized"
        else:
            d = [hx(0xfee0 + p), hx(p % 5 + 1), hx(a)]
            s = "withdrawn"
        emitter.append("0xother" if k == 9 else "0xcore")
        key0.append(s)
        data.append(d)
    ev = np.arange(n)
    return pa.table({
        "block_number": pa.array(1 + ev // events_per_block, type=pa.int64()),
        "transaction_index": pa.array((ev % events_per_block) // 8, type=pa.int64()),
        "event_index": pa.array(ev % 8, type=pa.int64()),
        "emitter": pa.array(emitter),
        "key0": pa.array(key0),
        "data": pa.array(data, type=pa.list_(pa.string())),
    })
