"""Seeded input generator for the benchmark.

Everything the program receives is made here from the seed:

* ``events(...)`` - an events table with the schema of the test-data
  ``events`` table (event_id, ts, user_id, event_type, value, props),
  spread over the 30 UTC days that end yesterday, so the service's
  "today" windows see rows.
* ``wire_lines(...)`` - those events encoded as nginx JSON-over-syslog
  datagrams, with the field mapping of the ``log_format`` the program's
  ``/nginx`` page prints (service, ip, host, path, status, referrer,
  user_agent, length, generation_time_milli, date).
* ``write_sf_dir(...)`` - a small scale-factor directory (events,
  documents, embeddings and one-row stand-ins for the TPC-H tables) in
  the single-file parquet layout the query registry and the DuckDB
  oracle both read.
"""
import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERVICES = ["view", "click", "purchase", "signup", "error"]
SERVICE_WEIGHTS = [0.40, 0.30, 0.12, 0.10, 0.08]
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7; rv:109.0) "
    "Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 "
    "Safari/604.1",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]
PATHS = ["/", "/index.html", "/search?q=spark+sql", "/p/%2Fdocs", "/about",
         "/blog/2024/streaming", "/api/v1/items", "/static/app.js"]
WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark a the line sort window order data column join small "
         "customer query big stream filter group vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def window_start():
    """Midnight UTC 30 days before today: the data covers
    [today - 30 d, today), so it ends yesterday."""
    today = dt.datetime.now(dt.timezone.utc).date()
    return dt.datetime(today.year, today.month, today.day) - dt.timedelta(days=30)


def events(rng, n, start):
    """n events over 30 days from ``start``, in time order."""
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, size=n))
    base_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    # a skewed user population, like the test-data table's 1500 users
    users = np.minimum(rng.zipf(1.3, size=n), 1500) + rng.integers(0, 200, size=n)
    svc = rng.choice(len(SERVICES), size=n, p=SERVICE_WEIGHTS)
    value = np.round(rng.gamma(2.0, 30.0, size=n), 2) + 0.01
    props = rng.integers(0, 100, size=n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": base_us + offs,
        "user_id": users.astype(np.int64),
        "event_type": [SERVICES[i] for i in svc],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in props],
    }


def wire_lines(rng, ev):
    """nginx JSON syslog datagrams, one per event.

    Replay order is time order with a seeded local shuffle inside blocks
    of 64 lines, as real logs arrive nearly but not exactly in order.
    """
    n = len(ev["event_id"])
    order = np.arange(n)
    for s in range(0, n, 64):
        rng.shuffle(order[s:s + 64])
    out = []
    for i in order:
        eid = int(ev["event_id"][i])
        uid = int(ev["user_id"][i])
        ts = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(ev["ts_us"][i]))
        v = float(ev["value"][i])
        payload = {
            "service": ev["event_type"][i],
            "ip": f"10.{uid // 65536}.{(uid // 256) % 256}.{uid % 256}"
                  if eid % 7 else f"203.0.113.{uid % 256}",
            "host": f"h{eid % 10}.example.com",
            "path": PATHS[eid % len(PATHS)],
            "status": "500" if eid % 29 == 0 else "304" if eid % 13 == 0 else "200",
            "referrer": "" if eid % 3 == 0 else f"https://ref.example/{eid % 50}",
            "user_agent": USER_AGENTS[(eid + uid) % len(USER_AGENTS)],
            "length": int(v * 10),
            "generation_time_milli": v / 1000.0,
            "date": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
        }
        out.append(ts.strftime("<190>%b %d %H:%M:%S gw nginx: ") +
                   json.dumps(payload, separators=(",", ":")))
    return out


def _events_table(ev):
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"], pa.string()),
    })


def _documents(rng, n):
    """Word-salad documents over a small vocabulary, one in eight a
    near-copy (a few words replaced) of an earlier one, so the dedup
    operators find clusters."""
    texts = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            w = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(w), size=max(1, len(w) // 20)):
                w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            w = [WORDS[k] for k in rng.integers(0, len(WORDS), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(k)] for k in rng.integers(0, 5, size=n)], pa.string()),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around ``labels`` random centres."""
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, size=n)
    x = centres[lab] + rng.normal(scale=0.8, size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for row in x],
                              pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32), pa.int32()),
    })


def write_sf_dir(rng, path, n_events, n_docs, n_vecs, start):
    """The tables the operator queries read, plus one-row stand-ins for
    the TPC-H tables the oracle checker declares views over."""
    pq.write_table(_events_table(events(rng, n_events, start)), f"{path}/events.parquet")
    pq.write_table(_documents(rng, n_docs), f"{path}/documents.parquet")
    pq.write_table(_embeddings(rng, n_vecs), f"{path}/embeddings.parquet")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        pq.write_table(pa.table({"unused": pa.array([0], pa.int64())}), f"{path}/{t}.parquet")
