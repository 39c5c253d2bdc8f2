"""Seeded input generator for the graft benchmark.

Every input the benchmark reads is made here from the run's seed: the
same (sizes, seed) always yields the same parquet and XES files.
  * `make_tables`: the `events` table, with the schema of the engine's
    synthetic test table (event_id, ts, user_id, event_type, value,
    props) and values drawn from the seed;
  * `write_xes`: an XES corpus rendered from `events` (case = user_id,
    activity = event_type) over several log files, with the trace and
    event counts and the directly-follows graph the generator knows.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_2024_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86400000


def events(rng, n_events, n_cases):
    # strictly increasing whole-millisecond timestamps over 30 days, so
    # (case, ts) is unique and the XES rendering loses no precision
    gaps = rng.exponential(30 * DAY_MS / n_events, n_events).astype(np.int64) + 1
    ts_ms = EPOCH_2024_MS + np.cumsum(gaps)
    value = np.round(rng.lognormal(3.0, 1.2, n_events).clip(0.01, 490.0), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_ms * 1000, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cases, n_events, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })


def make_tables(out_dir, seed, sizes):
    """Writes `events.parquet` to `out_dir`; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    t = events(np.random.default_rng(seed), sizes["events"], sizes["cases"])
    pq.write_table(t, os.path.join(out_dir, "events.parquet"), compression="snappy")
    return {"events": t.num_rows}


def _iso(ms):
    s, milli = divmod(int(ms), 1000)
    d = datetime.datetime.fromtimestamp(s, tz=datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + ".%03d+00:00" % milli


XES_HEADER = """<?xml version="1.0" encoding="UTF-8" ?>
<log xes.version="1.0" xes.features="nested-attributes">
\t<extension name="Concept" prefix="concept" uri="http://www.xes-standard.org/concept.xesext"/>
\t<extension name="Time" prefix="time" uri="http://www.xes-standard.org/time.xesext"/>
\t<global scope="trace">
\t\t<string key="concept:name" value="__INVALID__"/>
\t</global>
\t<global scope="event">
\t\t<string key="concept:name" value="__INVALID__"/>
\t\t<date key="time:timestamp" value="1970-01-01T00:00:00.000+00:00"/>
\t</global>
\t<classifier name="Activity" keys="concept:name"/>
\t<string key="concept:name" value="%s"/>
"""


def write_xes(events_path, out_dir, n_files):
    """Renders `events` as `n_files` XES logs (case = user_id); returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(events_path)
    ev = t.to_pydict()
    ev["ts"] = t.column("ts").cast(pa.int64()).to_pylist()  # micros
    by_case = {}
    for i in range(len(ev["event_id"])):
        by_case.setdefault(ev["user_id"][i], []).append(i)
    files = {}
    dfg = {}
    for idx in by_case.values():
        acts = [ev["event_type"][i] for i in sorted(idx, key=lambda i: (ev["ts"][i], ev["event_id"][i]))]
        for a, b in zip(acts, acts[1:]):
            dfg[(a, b)] = dfg.get((a, b), 0) + 1
    for f in range(n_files):
        name = "log_%02d.xes" % f
        cases = sorted(c for c in by_case if c % n_files == f)
        out = [XES_HEADER % name[:-4]]
        n_ev = 0
        for c in cases:
            idx = sorted(by_case[c], key=lambda i: (ev["ts"][i], ev["event_id"][i]))
            out.append('\t<trace>\n\t\t<string key="concept:name" value="case_%d"/>\n' % c)
            for i in idx:
                ms = ev["ts"][i] // 1000
                out.append('\t\t<event>\n\t\t\t<string key="concept:name" value="%s"/>\n'
                           '\t\t\t<date key="time:timestamp" value="%s"/>\n'
                           '\t\t\t<float key="value" value="%r"/>\n\t\t</event>\n'
                           % (ev["event_type"][i], _iso(ms), ev["value"][i]))
            out.append("\t</trace>\n")
            n_ev += len(idx)
        out.append("</log>\n")
        data = "".join(out).encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        files[name] = {"traces": len(cases), "events": n_ev, "bytes": len(data)}
    return {
        "files": files,
        "traces": sum(v["traces"] for v in files.values()),
        "events": sum(v["events"] for v in files.values()),
        "bytes": sum(v["bytes"] for v in files.values()),
        # directly-follows edges (from, to, n), case = user_id ordered by (ts, event_id)
        "dfg": [[a, b, n] for (a, b), n in sorted(dfg.items())],
    }
