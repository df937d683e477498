"""Seeded input generator for the pipeline benchmark.

Each workload is one `events.parquet` in the schema `Transcripts.fromEvents`
reads (event_id, ts, user_id, event_type, value, props), plus a
`workload.json` that records the rate-limit thresholds chosen for it and the
properties the tests check. The same (workload, seed) always gives the same
bytes.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

# Fan-out of one event type under Router.defaultRules (well-formed rows):
# click -> dead_letter; view -> sink_search; signup -> sink_err;
# purchase -> sink_a; error -> sink_b + sink_err.
FANOUT = {"click": 1, "view": 1, "signup": 1, "purchase": 1, "error": 2}

# Prefix of a well-formed text, "[LEVEL] tool=T dur=Nms status=S ", is
# 33-45 bytes; text lengths below are for the whole text.
WORKLOADS = {
    # A day's batch of short turns: the row layers (grok, route/explode,
    # per-row limiter work) take about half of a cold job; few limiter cells
    # and files.
    "daily_short": dict(turns=800_000, hours=24, users=50_000,
                        text=(40, 200), hot_share=0.0,
                        mix=[0.35, 0.25, 0.10, 0.15, 0.15]),
    # A week's backfill: 7x the hour buckets at a fraction of the rows, so
    # per-(sink, hour) cell and file costs dominate.
    "backfill_hourly": dict(turns=60_000, hours=168, users=8_000,
                            text=(40, 200), hot_share=0.0,
                            mix=[0.35, 0.25, 0.10, 0.15, 0.15]),
    # Agent turns of 1-2 KB with one conversation holding 20 % of them:
    # byte-bound and skewed.
    "long_text_hot": dict(turns=20_000, hours=24, users=1_000,
                          text=(1000, 2000), hot_share=0.20,
                          mix=[0.15, 0.30, 0.05, 0.30, 0.20]),
    # Read queries over short turns (SparkEntry.queries).
    "sink_queries": dict(turns=60_000, hours=24, users=5_000,
                         text=(40, 200), hot_share=0.0,
                         mix=[0.35, 0.25, 0.10, 0.15, 0.15]),
}

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
HOUR_US = 3_600_000_000
MAX_USER_ID = 99_999  # fromEvents lpads user_id to 5 digits

# Quantiles of the trailing-3 byte averages used as limits: about half of the
# sink_search hours breach, and about a third of the fallback hours are
# discarded after the reroute.
SEARCH_QUANTILE = 0.5
FALLBACK_QUANTILE = 0.67
AVG_OVER = 3

_WORDS_RNG_SEED = 20240101


def _vocabulary():
    """A fixed word list (independent of the workload seed); a few words are
    multi-byte UTF-8 so byte and character lengths differ."""
    rng = np.random.default_rng(_WORDS_RNG_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = ["".join(rng.choice(letters, size=int(n))) for n in rng.integers(2, 10, 3000)]
    words += ["naïve", "café", "日本語", "données", "größe", "ok", "err", "{k:", "v}"]
    return words


def _text_buffer(rng, n_chars):
    words = _vocabulary()
    picks = rng.integers(0, len(words), n_chars // 4 + 16)
    buf = " ".join(words[i] for i in picks)
    return buf[:n_chars]


def _level(et):
    return "ERROR" if et == "error" else ("WARN" if et == "signup" else "INFO")


def _tool(et):
    return {"click": "none", "view": "search", "signup": "edit",
            "purchase": "bash", "error": "bash"}[et]


def text_of(event_id, et, value, props):
    """Transcripts.fromEvents' text rule, in Python."""
    if event_id % 17 == 0:
        return "?raw? " + props
    dur = int(math.floor(value * 10))
    status = "ok" if value >= 50 else "err"
    return f"[{_level(et)}] tool={_tool(et)} dur={dur}ms status={status} {props}"


def generate(workload, seed):
    """Returns (pyarrow.Table, spec dict) for one (workload, seed)."""
    w = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    n, hours, users = w["turns"], w["hours"], w["users"]

    # hour of each turn: a diurnal curve with seeded phase and noise, so hour
    # volumes differ and the limiter has buckets on both sides of its limit
    h = np.arange(hours)
    phase = rng.uniform(0, 2 * math.pi)
    weight = 1.0 + 0.6 * np.sin(2 * math.pi * h / 24 + phase) + rng.uniform(-0.2, 0.2, hours)
    hour = rng.choice(hours, size=n, p=weight / weight.sum())
    ts = BASE_US + hour.astype(np.int64) * HOUR_US + rng.integers(0, HOUR_US, n)

    if w["hot_share"] > 0:
        hot = rng.random(n) < w["hot_share"]
        user = np.where(hot, 0, rng.integers(1, users, n))
    else:
        user = rng.integers(0, users, n)
    et_idx = rng.choice(len(EVENT_TYPES), size=n, p=w["mix"])
    value = np.round(rng.uniform(0, 100, n), 2)

    # event_id follows ts order, as in the reference event log
    order = np.lexsort((user, ts))
    ts, user, et_idx, value = ts[order], user[order], et_idx[order], value[order]
    event_id = np.arange(n, dtype=np.int64)

    lo, hi = w["text"]
    prefix = 38  # typical well-formed prefix length
    plen = rng.integers(max(1, lo - prefix), hi - prefix + 1, n)
    buf = _text_buffer(rng, 4_000_000)
    off = rng.integers(0, len(buf) - int(plen.max()) - 1, n)
    props = [buf[o:o + l].strip() or "k" for o, l in zip(off.tolist(), plen.tolist())]
    ets = [EVENT_TYPES[i] for i in et_idx.tolist()]

    table = pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64), pa.int64()),
        "event_type": pa.array(ets, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })
    spec = {"workload": workload, "seed": seed, **describe(table, hours)}
    return table, spec


def _trailing_avgs(byte_by_hour):
    """RateLimit.runChain's window: mean of the trailing AVG_OVER non-empty
    buckets, in bucket order. Returns [(hour, avg)]."""
    out, window = [], []
    for hr in sorted(byte_by_hour):
        window.append(byte_by_hour[hr])
        if len(window) > AVG_OVER:
            window.pop(0)
        out.append((hr, sum(window) / len(window)))
    return out


def describe(table, hours):
    """Properties of a generated table, and the limits derived from it."""
    ets = table["event_type"].to_pylist()
    eids = table["event_id"].to_pylist()
    vals = table["value"].to_pylist()
    props = table["props"].to_pylist()
    hrs = ((np.asarray(table["ts"].cast(pa.int64())) - BASE_US) // HOUR_US).tolist()
    users = np.asarray(table["user_id"])
    lens, search, fanout = [], {}, 0
    for eid, et, v, p, hr in zip(eids, ets, vals, props, hrs):
        t = text_of(eid, et, v, p)
        nb = len(t.encode("utf-8"))
        lens.append(nb)
        if eid % 17 == 0:
            fanout += 1
            continue
        fanout += FANOUT[et]
        if et == "view":
            search[hr] = search.get(hr, 0) + nb
    search_avgs = _trailing_avgs(search)
    search_limit = int(np.quantile([a for _, a in search_avgs], SEARCH_QUANTILE))
    breached = [hr for hr, a in search_avgs if a > search_limit]
    fallback = {hr: search[hr] for hr in breached}
    fb_avgs = _trailing_avgs(fallback)
    fallback_limit = int(np.quantile([a for _, a in fb_avgs], FALLBACK_QUANTILE)) if fb_avgs else 0
    discarded = [hr for hr, a in fb_avgs if a > fallback_limit]
    counts = np.bincount(users)
    return {
        "turns": len(eids),
        "hours": hours,
        "bucket_count": len(set(hrs)),
        "max_user_id": int(users.max()),
        "text_bytes_median": float(np.median(lens)),
        "hot_share": float(counts.max() / len(eids)),
        "fanout_rows": fanout,
        "search_limit": search_limit,
        "fallback_limit": fallback_limit,
        "search_buckets": len(search),
        "search_breached": len(breached),
        "fallback_discarded": len(discarded),
    }


def write(workload, seed, out_dir):
    """Writes events.parquet and workload.json into out_dir; returns the spec."""
    table, spec = generate(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"),
                   row_group_size=max(1, -(-table.num_rows // 16)))
    with open(os.path.join(out_dir, "workload.json"), "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    return spec


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py <{'|'.join(sorted(WORKLOADS))}> <seed> <out_dir>")
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
