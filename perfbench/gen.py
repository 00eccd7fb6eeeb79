"""Seeded input generator for the graft benchmark.

Every table the program reads is made here from `--seed` alone: the same
seed gives byte-identical parquet files (numpy PCG64 streams, a fixed
pyarrow writer and fixed row-group sizes). Two families of inputs:

* cascade logs -- sf0.1-shaped `events` (1,500 users, value ~ Exp(mean 50)
  with 2 decimals, five event types) replicated `copies` times with
  disjoint key offsets, as graft.tools.ScaleUp replicates the fixtures, then
  bound to `player_value_log` / `player_profit_log` exactly as the report
  queries bind them (FIXTURES.md section C): platform P{uid%2}, site S{uid%5},
  player u{uid}, country C{uid%4}, purchase->IN, view->OUT, error->FAIL,
  game g{event_id%3}, robot every 10th event, money as exact decimals.
* sweep fixtures -- the ten fixture tables of TESTDATA.md at a small
  scale factor, with the fixtures' column types and value ranges.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STRIDE = 1_000_000_000
ROW_GROUP = 1 << 17
EPOCH_DAY = dt.datetime(2024, 1, 1)
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()


def _rng(seed, *salt):
    key = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(key[:16], "little")))


def _decimal(units, precision, scale):
    """Exact decimal128 column from integer units of 10**-scale."""
    units = np.asarray(units, dtype=np.int64)
    words = np.empty(2 * len(units), dtype="<i8")
    words[0::2] = units
    words[1::2] = np.where(units < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(units),
                                 [None, pa.py_buffer(words.tobytes())])


def _ts(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def _micros(day):
    return int((day - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy",
                   write_statistics=True)


def _str(prefix, ids):
    digits = pc.cast(pa.array(np.asarray(ids, dtype=np.int64)), pa.string())
    return pc.binary_join_element_wise(prefix, digits, "")


def base_events(seed, first_day, days, rows_per_day, users):
    """sf0.1-shaped events over `days` whole days starting at `first_day`."""
    r = _rng(seed, "events", first_day.isoformat(), days, rows_per_day, users)
    n = rows_per_day * days
    t0 = _micros(first_day)
    ts = np.sort(t0 + r.integers(0, days * 86_400_000_000, n))
    return {
        "ts": ts,
        "user_id": r.integers(0, users, n),
        "event_type": r.integers(0, 5, n),  # click error purchase signup view
        "cents": np.round(r.exponential(5000.0, n)).astype(np.int64),
    }


def replicate(ev, copies):
    """`copies` unions with user/event keys offset into disjoint strides."""
    n = len(ev["ts"])
    k = np.repeat(np.arange(copies, dtype=np.int64), n)
    out = {c: np.tile(v, copies) for c, v in ev.items()}
    out["event_id"] = np.tile(np.arange(n, dtype=np.int64), copies) + k * STRIDE
    out["user_id"] = out["user_id"] + k * STRIDE
    order = np.argsort(out["ts"], kind="stable")
    return {c: v[order] for c, v in out.items()}


def cascade_inputs(out_dir, seed, first_day, days, base_rows_per_day, copies, users=1500):
    """Write player_value_log, player_profit_log, game_sites and players."""
    os.makedirs(out_dir, exist_ok=True)
    ev = replicate(base_events(seed, first_day, days, base_rows_per_day, users), copies)
    uid, eid, typ, cents, ts = (ev["user_id"], ev["event_id"], ev["event_type"],
                                ev["cents"], ev["ts"])
    n = len(ts)
    platform = _str("P", uid % 2)
    site = _str("S", uid % 5)
    player = _str("u", uid)
    country = _str("C", uid % 4)
    ts_col = _ts(ts)
    trade_type = np.array(["XFER", "XFER", "IN", "XFER", "OUT"], dtype=object)[typ]
    status = np.where(typ == 1, "FAIL", "SUCCESS").astype(object)
    day_int = np.array([int((first_day + dt.timedelta(days=d)).strftime("%Y%m%d"))
                        for d in range(days + 1)], dtype=np.int32)
    trade_date = day_int[(ts - _micros(first_day)) // 86_400_000_000]
    _write(pa.table({
        "platform": platform, "site_code": site, "player_name": player,
        "country": country, "trade_type": pa.array(trade_type),
        "value": _decimal(cents, 12, 2),
        "before_value": _decimal(cents * 2, 13, 2),
        "after_value": _decimal(cents * 9, 14, 3),
        "trade_date": pa.array(trade_date),
        "trade_status": pa.array(status),
        "trade_time": ts_col,
    }), f"{out_dir}/player_value_log.parquet")
    zero = _decimal(np.zeros(n, dtype=np.int64), 12, 2)
    _write(pa.table({
        "platform": platform, "site_code": site,
        "game_code": _str("g", eid % 3), "player_name": player, "country": country,
        "bet": _decimal(cents, 12, 2),
        "win": _decimal(cents * 98, 16, 4),
        "fee": _decimal(cents * 2, 16, 4),
        "profit": _decimal(cents * 98 - cents * 100, 16, 4),
        "refund": zero,
        "normal_value": _decimal(cents, 12, 2),
        "bonus_value": zero,
        "free_value": _decimal(cents - 3000, 12, 2),
        "jp_value": _decimal(cents - 5000, 12, 2),
        "valid_value": _decimal(cents, 12, 2),
        "cancel_value": zero,
        "round_time": ts_col,
        "is_robot": pa.array((eid % 10 == 0).astype(np.int32)),
    }), f"{out_dir}/player_profit_log.parquet")
    r = _rng(seed, "sites")
    sites = [(f"P{p}", f"S{s}") for p in range(2) for s in range(5)]
    _write(pa.table({
        "platform": [p for p, _ in sites], "code": [s for _, s in sites],
        "ratio": (r.integers(0, 5, len(sites)) / 10.0).tolist(),
    }), f"{out_dir}/game_sites.parquet")
    # registrations: a player's first event is their reg_time
    first = np.unique(uid, return_index=True)
    reg_uid, reg_ts = first[0], ts[first[1]]
    _write(pa.table({
        "player_name": _str("u", reg_uid), "platform": _str("P", reg_uid % 2),
        "site_code": _str("S", reg_uid % 5), "reg_time": _ts(reg_ts),
        "type": pa.array(np.where(reg_uid % 10 == 7, "ROBOT", "NORMAL").astype(object)),
        "status": pa.array(["ACTIVATE"] * len(reg_uid)),
    }), f"{out_dir}/players.parquet")
    return n


def fixtures(out_dir, seed, sf):
    """The ten fixture tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "fixtures", sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_ord, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_doc, n_emb = max(50, int(50_000 * sf)), max(50, int(50_000 * sf))
    t0 = _micros(EPOCH_DAY)
    ev_ts = np.sort(t0 + r.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"],
                                        dtype=object)[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(5000.0, n_ev)) / 100.0),
        "props": pc.binary_join_element_wise(_str('{"k": ', r.integers(0, 100, n_ev)), "}", ""),
    }), f"{out_dir}/events.parquet")

    day_us = 86_400_000_000
    d1995 = _micros(dt.datetime(1995, 1, 1))
    lines = r.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    perm = r.permutation(len(l_ord))
    l_ord, l_num = l_ord[perm], l_num[perm]
    n_li = len(l_ord)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(r.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(r.integers(90_068, 10_499_992, n_li) / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_li)]),
        "l_shipdate": _ts(d1995 + r.integers(1, 2499, n_li) * day_us),
    }), f"{out_dir}/lineitem.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(r.integers(100_191, 49_999_319, n_ord) / 100.0),
        "o_orderdate": _ts(d1995 + r.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object)[r.integers(0, 5, n_ord)]),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(r.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            dtype=object)[r.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(r.integers(-99_999, 999_999, n_supp) / 100.0),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array("blue old small new hot large cold red".split(), dtype=object)
    noun = np.array("widget gizmo ring gear bolt plate anvil rod".split(), dtype=object)
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(adj[r.integers(0, 8, n_part)] + " " + noun[r.integers(0, 8, n_part)]),
        "p_brand": _str("Brand#", r.integers(1, 26, n_part)),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                    dtype=object)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((90_000 + (pk % 1000) * 10) / 100.0),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{out_dir}/region.parquet")

    # documents: random words from a small vocabulary; every 20th document
    # is a near-duplicate of an earlier one (a few words swapped, "dup"
    # appended) so the dedup operators find real pairs
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 0:
            src = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(src), 2):
                src[j] = words[int(r.integers(0, len(words)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 100)))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "en", "de", "es", "fr", "zh"],
                                  dtype=object)[r.integers(0, 7, n_doc)]),
        "source": _str("src", r.integers(0, 20, n_doc)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    # embeddings: unit vectors around ten label centres
    centres = r.normal(0.0, 0.14 / 8.0, (10, 64))
    label = r.integers(0, 10, n_emb).astype(np.int32)
    x = centres[label] + r.normal(0.0, 1.0 / 8.0, (n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label),
    }), f"{out_dir}/embeddings.parquet")
    return n_ev + n_li + n_ord + n_cust + n_part + n_supp + n_doc + n_emb + 30


def digest(out_dir):
    """sha256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
