"""Seeded input generators for the benchmark.

Two kinds of input:

- ``olap_tables``: the ten harness-shaped parquet tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) that
  ``SparkEntry.queries`` read.  The olap workloads use one fixed table
  seed so that query results can be pinned; their ``--seed`` only
  permutes the query order.
- ``cdc_feed``: Canal flat-JSON lines for ``t_meeting_info`` plus the
  room dimension, driven by ``--seed``.  ``replay`` is the independent
  oracle for what the upsert sink must hold after the feed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OLAP_TABLE_SEED = 42

WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
PART_ADJ = "small red blue hot old large new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil nut".split()


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def olap_tables(out_dir, sf=0.01, seed=OLAP_TABLE_SEED):
    """Write the ten tables at scale ``sf`` into ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(50000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n, p=None: np.asarray(xs, dtype=object)[rng.choice(len(xs), n, p=p)]
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())},
        "customer": {"c_custkey": np.arange(n_cust),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part),
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n_ord),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_line).astype(float),
                     "l_extendedprice": money(900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": pick(["A", "N", "R"], n_line),
                     "l_linestatus": pick(["F", "O"], n_line),
                     "l_shipdate": _days("1995-01-02", 2499, rng, n_line)},
    }
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    tables["events"] = {
        "event_id": np.arange(n_ev), "ts": ev_ts,
        "user_id": rng.integers(0, int(15000 * sf), n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.maximum(rng.exponential(50, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": pick(["en", "zh", "de", "fr", "es"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64)) / 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    counts = {}
    for name, cols in tables.items():
        t = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# ---------------------------------------------------------------- CDC feed

ES_BASE = 1_700_000_000_000

# Scale of the reference deployment (SURVEY.md section 6, from its MySQL
# DDL): t_meeting_info AUTO_INCREMENT=65216, about 554 rooms and about 103
# locations.  Skew, op mix and noise shares below have no source; they
# are assumptions.
N_MEETINGS = 65216
N_ROOMS = 554
N_LOCATIONS = 103


def dimension(n_rooms=N_ROOMS, n_locations=N_LOCATIONS):
    """Room and location rows; rooms 1..n_rooms, locations 1..n_locations."""
    cities = ["Shanghai", "Beijing", "Shenzhen", "Hangzhou", "Chengdu"]
    locations = [(l, f"Floor {l}", cities[l % len(cities)]) for l in range(1, n_locations + 1)]
    rooms = [(r, f"Room {r}", (r % n_locations) + 1 if r % 17 else None)
             for r in range(1, n_rooms + 1)]
    return rooms, locations


def dim_lookup(rooms, locations):
    """meetingroom_id -> (meetingroom_id, name, location_name, city), a left join."""
    loc = {l: (name, city) for l, name, city in locations}
    return {r: (r, name, *loc.get(l, (None, None))) for r, name, l in rooms}


def _envelope(table, op, rows, old, es, db="mrbs", is_ddl=False, sql=""):
    return json.dumps({"data": rows, "database": db, "es": es, "id": es - ES_BASE,
                       "isDdl": is_ddl, "mysqlType": {}, "old": old, "sql": sql,
                       "sqlType": {}, "table": table, "ts": es + 5, "type": op},
                      separators=(",", ":"))


def cdc_feed(seed, n_events, n_keys=N_MEETINGS, n_rooms=N_ROOMS, zipf_s=1.1, start=0):
    """Canal flat-JSON lines for a seeded change stream.

    Meeting ids are Zipf-skewed over ``n_keys`` (an assumed s = 1.1) so
    one batch holds several versions of hot keys.  The state machine only
    UPDATEs or DELETEs live rows; a DELETEd id may be INSERTed again later.  About 3% of lines are
    noise (another table, DDL, corrupt JSON); about 4% of rows point at a
    room missing from the dimension.  ``es`` strictly increases.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
    ids = rng.choice(n_keys, n_events, p=weights / weights.sum())
    perm = rng.permutation(n_keys) + 1  # hot ids spread over the key range
    live = {}
    lines = []
    es = ES_BASE + start
    i = 0
    while len(lines) < n_events:
        es += 1
        u = rng.random()
        if u < 0.01:
            lines.append(_envelope("t_user", "INSERT", [{"id": str(i), "name": f"u{i}"}], None, es))
            continue
        if u < 0.02:
            lines.append(_envelope("t_meeting_info", "ALTER", None, None, es, is_ddl=True,
                                   sql="ALTER TABLE t_meeting_info ADD COLUMN remark2 varchar(64)"))
            continue
        if u < 0.03:
            good = _envelope("t_meeting_info", "INSERT", [{"id": "1"}], None, es)
            lines.append(good[: int(rng.integers(5, len(good) - 5))])
            continue
        key = int(perm[ids[i]]); i += 1
        row = live.get(key)
        if row is None:
            room = int(rng.integers(1, n_rooms + 1)) if rng.random() > 0.04 \
                else int(rng.integers(900, 1000))
            row = {"id": str(key), "meeting_code": f"M{key}-{es % 100000}",
                   "address_id": str(room), "mstart_date": "2024-05-01 09:00:00",
                   "mend_date": "2024-05-01 10:00:00", "update_time": str(es)}
            live[key] = row
            lines.append(_envelope("t_meeting_info", "INSERT", [row], None, es))
            continue
        v = rng.random()
        if v < 0.12:
            del live[key]
            lines.append(_envelope("t_meeting_info", "DELETE", [row], None, es))
            continue
        new = dict(row, update_time=str(es))
        if v < 0.4:  # touches only an unprojected column
            old = {"update_time": row["update_time"]}
        elif v < 0.7:
            new["meeting_code"] = f"M{key}-{es % 100000}"
            old = {"meeting_code": row["meeting_code"], "update_time": row["update_time"]}
        else:
            new["address_id"] = str(int(rng.integers(1, n_rooms + 1)))
            old = {"address_id": row["address_id"], "update_time": row["update_time"]}
        live[key] = new
        lines.append(_envelope("t_meeting_info", "UPDATE", [new], [old], es))
    return lines


def replay(lines, dim):
    """Expected sink contents after ``lines``: last writer by ``es`` per meeting
    id, DELETEs applied, left-joined to ``dim`` (see ``dim_lookup``).

    Returns ``(rows, stats)``; rows maps meeting_id to the sink tuple.  Lines
    that are not JSON objects, DDL, other tables or other ops are skipped, as
    the codec's change filter drops them.
    """
    latest = {}
    stats = {"lines": 0, "meeting_rows": 0, "skipped": 0}
    for line in lines:
        stats["lines"] += 1
        try:
            env = json.loads(line)
        except ValueError:
            env = None
        if (not isinstance(env, dict) or env.get("isDdl") or env.get("table") != "t_meeting_info"
                or env.get("type") not in ("INSERT", "UPDATE", "DELETE")):
            stats["skipped"] += 1
            continue
        for row in env.get("data") or []:
            stats["meeting_rows"] += 1
            key = int(row["id"])
            if key not in latest or env["es"] > latest[key][0]:
                latest[key] = (env["es"], env["type"], row)
    rows = {}
    for key, (_, op, row) in latest.items():
        if op == "DELETE":
            continue
        addr = row.get("address_id")
        d = dim.get(int(addr)) if addr is not None else None
        rows[key] = (key, row.get("meeting_code"), *(d if d else (None, None, None, None)))
    return rows, stats


def meeting_rows_per_line(lines):
    """Rows each line contributes to the sink's input (0 for skipped lines)."""
    out = []
    for line in lines:
        try:
            env = json.loads(line)
        except ValueError:
            env = None
        ok = (isinstance(env, dict) and not env.get("isDdl")
              and env.get("table") == "t_meeting_info"
              and env.get("type") in ("INSERT", "UPDATE", "DELETE"))
        out.append(len(env.get("data") or []) if ok else 0)
    return out


def meeting_keys_per_line(lines):
    """The meeting ids each line carries (empty for skipped lines)."""
    out = []
    for line, n in zip(lines, meeting_rows_per_line(lines)):
        out.append([int(r["id"]) for r in json.loads(line)["data"]] if n else [])
    return out
