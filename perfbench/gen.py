"""Deterministic inputs of the benchmark.

tables() writes the parquet tables the benchmarked queries read (events,
documents, region, part, customer, orders, lineitem) with the schemas and
value shapes of graft's test data. Row counts scale with sf: sf 0.01 is
10k events, 500 documents and 60k lineitems. Every value is a splitmix64
hash of (row id, column salt), so a given sf always yields the same rows,
whatever the seed, and the catalog digests in digests.tsv stay valid.
The catalog workloads take their seed as the query order instead.

The catalog workloads' events span 30 days from 2024-01-01, like graft's
test data. The nightly workload's events are a crash history of two years
from the same day (24 month partitions in the warehouse), so a next-day
merge that rewrites only the months it touches does less work than one
that rewrites all of history.

soda() writes the nightly workload's seeded SODA-shaped JSON batches. The
two batches overlap the way the reference's 2-month fetch window does: the
last 40% of batch A is fetched again in batch B, where each re-fetched record
carries one more pedestrian injury, so a merge that lets B win on key
collision is observable. Each batch plants malformed lines, records
without coordinates and records without persons totals, chosen by the
seed at fixed rates, and the planted counts are written beside the batches
for the harness to check.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HISTORY_DAYS = {"nightly": 730, "crash_queries": 30}  # span of the events table
TABLES = {
    "nightly": ("events", "region", "part"),
    "crash_queries": ("events", "region", "part", "customer", "orders", "lineitem"),
    "staged_loops": ("documents",),
}

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
         "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order",
         "slow", "line", "part", "fast", "the", "row", "agg", "key", "query", "a", "scan",
         "batch"]


def _salt(s):
    return np.uint64(int.from_bytes(hashlib.blake2b(str(s).encode(), digest_size=8).digest(),
                                    "little"))


def h(ids, salt):
    """splitmix64 of each id, keyed by a salt: uint64 array."""
    with np.errstate(over="ignore"):
        x = np.asarray(ids).astype(np.uint64) * np.uint64(0x100000001B3) ^ _salt(salt)
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def mod(ids, salt, m):
    return (h(ids, salt) % np.uint64(m)).astype(np.int64)


def pick(ids, salt, vocab):
    return np.asarray(vocab, dtype=object)[mod(ids, salt, len(vocab))]


def _ts_us(day0, seconds):
    return pa.array(np.datetime64(day0, "us") + seconds.astype("timedelta64[s]").astype(
        "timedelta64[us]"), type=pa.timestamp("us"))


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def tables(workload, sf, dir_):
    os.makedirs(dir_, exist_ok=True)
    want = TABLES[workload]
    n_events = max(1000, round(1_000_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_orders = max(1500, round(1_500_000 * sf))
    n_lines = max(6000, round(6_000_000 * sf))

    if "events" in want:
        i = np.arange(n_events, dtype=np.int64)
        step = HISTORY_DAYS[workload] * 24 * 3600 * 1_000_000 // n_events
        us = i * step + mod(i, "jit", step)
        uni = (mod(i, "val", 1_000_000) + 1) / 1_000_000.0
        _write(dir_, "events", {
            "event_id": pa.array(i),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + us.astype(
                "timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(mod(i, "u", max(10, n_events * 15 // 1000))),
            "event_type": pa.array(pick(i, "t", ["click", "view", "signup", "error", "purchase"]),
                                   type=pa.string()),
            "value": pa.array(np.round(-np.log(uni) * 50.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in mod(i, "k", 100)], type=pa.string()),
        })

    if "documents" in want:
        def gen(d):
            n = int(mod([d], "wc", 91)[0]) + 10
            return " ".join(VOCAB[int(w)] for w in mod(d * 1000 + np.arange(1, n + 1), "w", 30))

        def near(d):  # ~5% near-dup twins: an earlier doc's text + " dup"
            return gen(d - 19) + " dup" if d % 20 == 19 else gen(d)

        # ~1/312 exact copies of an earlier document
        text = [near(d - 311) if d % 312 == 311 else near(d) for d in range(n_docs)]
        i = np.arange(n_docs, dtype=np.int64)
        lang = mod(i, "lang", 20)
        _write(dir_, "documents", {
            "doc_id": pa.array(i),
            "text": pa.array(text, type=pa.string()),
            "lang": pa.array(np.select([lang < 8, lang < 11, lang < 14, lang < 17],
                                       ["en", "de", "zh", "fr"], "es"), type=pa.string()),
            "source": pa.array([f"src{d % 20}" for d in range(n_docs)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        })

    if "region" in want:
        _write(dir_, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        })

    if "part" in want:
        i = np.arange(n_part, dtype=np.int64)
        _write(dir_, "part", {
            "p_partkey": pa.array(i),
            "p_name": pa.array(pick(i, "pc", ["small", "red", "blue", "green", "large"]) + " " +
                               pick(i, "pn", ["ring", "widget", "bolt", "anvil", "gear", "nut"]),
                               type=pa.string()),
            "p_brand": pa.array([f"Brand#{b + 1}" for b in mod(i, "b", 25)], type=pa.string()),
            "p_type": pa.array(pick(i, "pt", ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
                                              "PROMO"]), type=pa.string()),
            "p_size": pa.array((mod(i, "ps", 50) + 1).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (i % 1000) / 10.0),
        })

    if "customer" in want:
        i = np.arange(n_cust, dtype=np.int64)
        _write(dir_, "customer", {
            "c_custkey": pa.array(i),
            "c_name": pa.array([f"Customer#{c:09d}" for c in i], type=pa.string()),
            "c_nationkey": pa.array(mod(i, "n", 25).astype(np.int32)),
            "c_acctbal": pa.array((mod(i, "ab", 1_100_000) - 100_000) / 100.0),
            "c_mktsegment": pa.array(pick(i, "seg", ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                     "HOUSEHOLD", "MACHINERY"]), type=pa.string()),
        })

    if "orders" in want:
        i = np.arange(n_orders, dtype=np.int64)
        _write(dir_, "orders", {
            "o_orderkey": pa.array(i),
            "o_custkey": pa.array(mod(i, "c", n_cust)),
            "o_orderstatus": pa.array(pick(i, "st", ["F", "O", "P"]), type=pa.string()),
            "o_totalprice": pa.array((mod(i, "tp", 49_900_000) + 100_000) / 100.0),
            "o_orderdate": _ts_us("1995-01-01", mod(i, "od", 2400) * 86400),
            "o_orderpriority": pa.array(pick(i, "pr", ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                      "4-NOT SPECIFIED", "5-LOW"]),
                                        type=pa.string()),
        })

    if "lineitem" in want:
        i = np.arange(n_lines, dtype=np.int64)
        qty = (mod(i, "q", 50) + 1).astype(np.float64)
        _write(dir_, "lineitem", {
            "l_orderkey": pa.array(mod(i, "lo", n_orders)),
            "l_partkey": pa.array(mod(i, "lp", n_part)),
            "l_suppkey": pa.array(mod(i, "ls", 100)),
            "l_linenumber": pa.array((mod(i, "ln", 7) + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * (900.0 + mod(i, "lx", 120_000) / 100.0), 2)),
            "l_discount": pa.array(mod(i, "ld", 11) / 100.0),
            "l_tax": pa.array(mod(i, "lt", 9) / 100.0),
            "l_returnflag": pa.array(pick(i, "rf", ["A", "N", "R"]), type=pa.string()),
            "l_linestatus": pa.array(pick(i, "lst", ["F", "O"]), type=pa.string()),
            "l_shipdate": _ts_us("1995-01-01", mod(i, "sd", 2500) * 86400),
        })


def soda(seed, sf, dir_):
    """Writes soda_0 and soda_1 (JSON lines) and planted.tsv into dir_."""
    per_batch = max(500, round(200_000 * sf))
    overlap = per_batch * 2 // 5
    start_b = per_batch - overlap
    total = start_b + per_batch
    day0 = datetime.date(2024, 3, 1)
    rows = []
    valid_ids = set()
    for b, first in ((0, 0), (1, start_b)):
        ids = np.arange(first, first + per_batch, dtype=np.int64)

        def t(salt, m):
            return mod(ids, f"{seed}:{salt}", m)

        bad = t(f"bad{b}", 41) == 0
        no_geo = t("geo", 23) == 0
        no_tot = t("tot", 29) == 0
        mk, mi, ck, ci, pk = t("mk", 2), t("mi", 4), t("ck", 2), t("ci", 3), t("pk", 2)
        # re-fetched records carry one more pedestrian injury
        pi = t("pi", 3) + ((ids < per_batch) & (b == 1))
        hh, mm, lat, lng = t("hh", 24), t("mm", 60), t("lat", 40000), t("lng", 50000)
        on, off, zc, cf, vt, v2 = t("on", 300), t("off", 200), t("zip", 400), t("cf", 3), \
            t("vt", 4), t("v2", 2)
        path = os.path.join(dir_, f"soda_{b}")
        os.makedirs(path, exist_ok=True)
        planted = dict(valid=0, malformed=0, no_geo=0, no_totals=0)
        with open(os.path.join(path, "batch.json"), "w") as fh:
            for j, cid in enumerate(ids):
                key = str(int(cid) + 4_000_000)
                if bad[j]:  # a malformed line: the record cut off mid-value
                    fh.write('{"collision_id": "%s", "crash_date": "2024-\n' % key)
                    planted["malformed"] += 1
                    continue
                planted["valid"] += 1
                valid_ids.add(int(cid))
                day = day0 + datetime.timedelta(days=int(cid) * 61 // total)
                r = {"collision_id": key, "crash_date": f"{day.isoformat()}T00:00:00.000",
                     "crash_time": f"{hh[j]}:{mm[j]:02d}",
                     "on_street_name": f" STREET {on[j]} ", "off_street_name": f"AVENUE {off[j]}",
                     "zip_code": str(zc[j] + 10001),
                     "number_of_motorist_killed": str(mk[j]),
                     "number_of_motorist_injured": str(mi[j]),
                     "number_of_cyclist_killed": str(ck[j]),
                     "number_of_cyclist_injured": str(ci[j]),
                     "number_of_pedestrians_killed": str(pk[j]),
                     "number_of_pedestrians_injured": str(pi[j]),
                     "contributing_factor_vehicle_1":
                         ["Driver Inattention", "Unspecified", "'Unsafe Speed'"][cf[j]],
                     "vehicle_type_code1": ["Sedan", "Bike", "Taxi", "Box Truck"][vt[j]]}
                if v2[j] == 0:
                    r["vehicle_type_code2"] = "SUV"
                if no_geo[j]:
                    planted["no_geo"] += 1
                else:
                    r["latitude"] = f"{40.5 + lat[j] / 100000.0:.5f}"
                    r["longitude"] = f"{-74.25 + lng[j] / 100000.0:.5f}"
                if no_tot[j]:
                    planted["no_totals"] += 1
                else:
                    r["number_of_persons_killed"] = str(mk[j] + ck[j] + pk[j])
                    r["number_of_persons_injured"] = str(mi[j] + ci[j] + pi[j])
                fh.write(json.dumps(r) + "\n")
        rows.append((path, planted))
    with open(os.path.join(dir_, "planted.tsv"), "w") as fh:
        for path, p in rows:
            fh.write(f"batch\t{path}\t{p['valid']}\t{p['malformed']}\t{p['no_geo']}\t"
                     f"{p['no_totals']}\n")
        fh.write(f"merged\t{len(valid_ids)}\n")
