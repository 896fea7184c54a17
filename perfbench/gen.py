"""Seeded input generators for the benchmark workloads.

Each generator runs in one process with numpy + pyarrow (no Spark), writes
its parquet inputs under ``<root>/<workload>-s<seed>-<size tag>-<source
hash>/`` and a ``truth.json`` beside them, and caches by seed, size and this
file's source: a directory with a ``_DONE`` marker is reused, and a change
to a generator or a truth computation starts a new cache directory. The same seed always yields byte-identical
files. Ground truth is computed here from the generated arrays, independently
of the engine under test, and every timed iteration is checked against it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)
DAY_US = 86_400 * 1_000_000

#: workload -> size parameters (recorded in the cache key and in truth.json)
SIZES = {
    "fleet_audit": dict(n_sources=4, obs=600, encounter=250, orders=150, person=150, patient=120, patient_state=100),
    "table_audit": dict(orders=2500, lineitem=8000, events=5000, files=4),
    "corpus_curation": dict(docs=600, exact_dup_share=0.10, near_dup_share=0.08, vectors=600, dim=32, clusters=20, queries=8, k=10, batches=2, keys=150, ops=400),
}

#: short hash of this file, part of the cache key
with open(__file__, "rb") as _fh:
    SOURCE_HASH = hashlib.sha256(_fh.read()).hexdigest()[:10]

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANGS = ("de", "en", "es", "fr", "it")


def size_tag(workload: str) -> str:
    return "-".join(f"{k}{v}" for k, v in SIZES[workload].items())


def dataset_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, f"{workload}-s{seed}-{size_tag(workload)}-{SOURCE_HASH}")


def ensure(root: str, workload: str, seed: int) -> str:
    """Generate the workload's inputs unless a finished copy is cached."""
    out = dataset_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](tmp, np.random.default_rng(seed), **SIZES[workload])
    truth["workload"] = workload
    truth["seed"] = seed
    truth["sizes"] = SIZES[workload]
    truth["input_bytes"] = tree_bytes(tmp)
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write("ok")
    return out


def load_truth(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "truth.json")) as fh:
        return json.load(fh)


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def _us(year: int, month: int, day: int) -> int:
    return int((dt.datetime(year, month, day, tzinfo=UTC) - EPOCH).total_seconds()) * 1_000_000


def _date(us: int) -> dt.date:
    return (EPOCH + dt.timedelta(microseconds=int(us))).date()


#: every "past" timestamp is before this and every planted future one after
#: it, so ``ts < now()`` splits the rows the same way on any run date
PAST_END = _us(2025, 1, 1)
FUTURE_START = _us(2031, 1, 1)


def _event_times(rng, n: int, lo: int, hi: int, future_share: float) -> np.ndarray:
    """Whole-second timestamps in [lo, hi) plus a planted future-dated share."""
    secs = rng.integers(lo // 1_000_000, hi // 1_000_000, n)
    fut = rng.random(n) < future_share
    secs[fut] = rng.integers(FUTURE_START // 1_000_000, FUTURE_START // 1_000_000 + 86_400 * 365, fut.sum())
    return secs * 1_000_000


# ---------------------------------------------------------------------------
# fleet_audit: OpenMRS-shaped facility schemas + consolidated warehouse
# ---------------------------------------------------------------------------

FLEET_EVENT_TABLES = (("obs", "obs_id", "obs_datetime"), ("encounter", "encounter_id", "encounter_datetime"), ("orders", "order_id", "start_date"))
FLEET_PLAIN_TABLES = (("person", "person_id"), ("patient", "patient_id"), ("patient_state", "patient_state_id"))
NO_STATE_SOURCE, GARBAGE_SOURCE, NO_ORDERS_SOURCE, FLAT_SOURCE = 1, 2, 3, 4
DEST_ONLY_SITE = 99


def gen_fleet(out, rng, n_sources, **rows):
    """Facility ``openmrs_facNN`` has site id 20-n_sources+NN, so the last
    facility is site 20.

    Planted edges: source 1 lacks ``patient_state`` (skipped by the
    reconciliation only); source 2 has a non-numeric ``property_value``
    (site 0 in the reconciliation, raw string in the loading report);
    source 3 lacks ``orders`` (skipped by both checks); source 4 has equal
    max dates in all three event tables (std_dev 0); every table has voided
    rows and the event tables have future-dated rows.
    """
    fleet = os.path.join(out, "fleet")
    sources: dict[str, str] = {}
    dc_rows, pp_src, wh = [], {}, {t: [] for t, _ in FLEET_PLAIN_TABLES}
    for t, _, _ in FLEET_EVENT_TABLES:
        wh[t] = []
    input_rows = 0
    skipped_dc, skipped_pp = [], []
    for i in range(1, n_sources + 1):
        name = f"openmrs_fac{i:02d}"
        d = os.path.join(fleet, name)
        os.makedirs(d)
        sources[name] = d
        site = 20 - n_sources + i
        pv = f"fac-{i}x" if i == GARBAGE_SOURCE else str(site)
        num_site = 0 if i == GARBAGE_SOURCE else site
        loc_ids = np.arange(0, 40, dtype=np.int64) if i == GARBAGE_SOURCE else np.arange(1, 40, dtype=np.int64)
        loc_names = np.array([f"Facility {i} Ward {j}" for j in loc_ids])
        loc_names[loc_ids == num_site] = f"Clinic {i}"
        _write(pa.table({"location_id": pa.array(loc_ids.astype(np.int32)), "name": loc_names}), os.path.join(d, "location.parquet"))
        gp = pa.table({
            "property": ["locale", "current_health_center_id", "log.level"],
            "property_value": ["en", pv, "info"],
        })
        _write(gp, os.path.join(d, "global_property.parquet"))
        input_rows += 3 + len(loc_ids)
        fac_name = f"Clinic {i}"

        max_dates = {}
        counts_src = {}
        flat_day = int(rng.integers(_us(2024, 6, 1), _us(2024, 12, 1)) // DAY_US) * DAY_US
        for t, idc, tsc in FLEET_EVENT_TABLES:
            if t == "orders" and i == NO_ORDERS_SOURCE:
                continue
            n = rows[t]
            end = _us(2024, 12, 31) - int(rng.integers(0, 200)) * DAY_US
            ts = _event_times(rng, n, _us(2023, 1, 1), end, 0.01)
            if i == FLAT_SOURCE:
                ts[0] = flat_day + 3_600_000_000
                ts[ts < FUTURE_START] = np.minimum(ts[ts < FUTURE_START], flat_day + 3_600_000_000)
            voided = (rng.random(n) < 0.05).astype(np.int32)
            _write(pa.table({idc: pa.array(np.arange(1, n + 1, dtype=np.int64)), tsc: _ts(ts), "voided": pa.array(voided)}), os.path.join(d, f"{t}.parquet"))
            input_rows += n
            past = ts < PAST_END
            max_dates[t] = _date(ts[past].max())
            counts_src[t] = int(((voided == 0)).sum())
            wh[t].append((num_site, voided))
        for t, idc in FLEET_PLAIN_TABLES:
            if t == "patient_state" and i == NO_STATE_SOURCE:
                continue
            n = rows[t]
            voided = (rng.random(n) < 0.05).astype(np.int32)
            _write(pa.table({idc: pa.array(np.arange(1, n + 1, dtype=np.int64)), "voided": pa.array(voided)}), os.path.join(d, f"{t}.parquet"))
            input_rows += n
            # patient_state is counted without a voided filter (PP:106)
            counts_src[t] = int(n if t == "patient_state" else (voided == 0).sum())
            wh[t].append((num_site, voided))

        if i == NO_ORDERS_SOURCE:
            skipped_dc.append([name, "orders"])
            skipped_pp.append([name, "orders"])
            continue
        ords = [max_dates[t].toordinal() for t in ("encounter", "obs", "orders")]
        dc_rows.append({
            "facility_id": pv,
            "facility_name": fac_name,
            "encounter_max_date": max_dates["encounter"].isoformat(),
            "obs_max_date": max_dates["obs"].isoformat(),
            "orders_max_date": max_dates["orders"].isoformat(),
            "std_dev": float(round(float(np.std(ords, ddof=1)), 0)),
        })
        if i == NO_STATE_SOURCE:
            skipped_pp.append([name, "patient_state"])
            continue
        for t, c in counts_src.items():
            pp_src[(num_site, t)] = (c, fac_name)

    # a prefix-filtered non-fleet database the catalog must ignore
    misc = os.path.join(fleet, "misc_db")
    os.makedirs(misc)
    sources["misc_db"] = misc

    # consolidated warehouse: every source's rows with site_id, some
    # (site, table) pairs short by a few rows, plus a dest-only site
    wdir = os.path.join(out, "warehouse")
    dest_counts = {}
    for t in wh:
        sites, voids = [], []
        for site, voided in wh[t]:
            n = len(voided)
            drop = int(rng.choice([0, 0, 0, 1, 2, 7]))
            keep = np.ones(n, bool)
            keep[rng.choice(n, drop, replace=False)] = False
            sites.append(np.full(keep.sum(), site, np.int32))
            voids.append(voided[keep])
        extra = int(rng.integers(5, 50))
        sites.append(np.full(extra, DEST_ONLY_SITE, np.int32))
        voids.append((rng.random(extra) < 0.1).astype(np.int32))
        s, v = np.concatenate(sites), np.concatenate(voids)
        perm = rng.permutation(len(s))
        s, v = s[perm], v[perm]
        _write(pa.table({f"{t}_id": pa.array(np.arange(1, len(s) + 1, dtype=np.int64)), "site_id": pa.array(s), "voided": pa.array(v)}), os.path.join(wdir, f"{t}.parquet"))
        input_rows += len(s)
        if t == "patient_state":
            mask = s == 20  # PP:219: only the site-20 slice surfaces
        else:
            mask = v == 0
        for site, cnt in zip(*np.unique(s[mask], return_counts=True)):
            dest_counts[(int(site), t)] = int(cnt)

    pp_rows = []
    for key in sorted(set(pp_src) | set(dest_counts)):
        src = pp_src.get(key)
        dst = dest_counts.get(key)
        pp_rows.append({
            "site_id": key[0],
            "table_name": key[1],
            "site_name": src[1] if src else None,
            "record_count_source": src[0] if src else None,
            "record_count_ohdl": dst,
            "variance": (src[0] - dst) if (src and dst is not None) else None,
        })
    return {
        "sources": {k: os.path.relpath(v, out) for k, v in sources.items()},
        "warehouse": {t: os.path.join("warehouse", f"{t}.parquet") for t in wh},
        "input_rows": input_rows,
        "loading": {"attempted": n_sources, "succeeded": n_sources - 1, "skipped": skipped_dc},
        "etl": {"attempted": n_sources, "succeeded": n_sources - 2, "skipped": skipped_pp},
        "schema_report": dc_rows,
        "etl_report": pp_rows,
        "shares": {"voided": 0.05, "future_dated": 0.01, "missing_table_sources": 2},
    }


# ---------------------------------------------------------------------------
# table_audit: wide lineitem/orders/events-shaped tables with planted faults
# ---------------------------------------------------------------------------

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITY_RE = "^[1-5]-[A-Z ]+$"


def _plant(rng, n: int, share: float) -> np.ndarray:
    """Exactly round(n*share) distinct row positions."""
    return rng.choice(n, int(round(n * share)), replace=False)


def _profile_col(arr: pa.Array) -> dict:
    import pyarrow.compute as pc

    valid = arr.drop_null()
    out = {"n_nulls": arr.null_count, "n_distinct": len(pc.unique(valid))}
    mm = pc.min_max(valid)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if isinstance(lo, dt.datetime):
        lo, hi = lo.strftime("%Y-%m-%d %H:%M:%S"), hi.strftime("%Y-%m-%d %H:%M:%S")
    out["min"], out["max"] = lo, hi
    return out


def gen_tables(out, rng, orders, lineitem, events, files):
    n_o, n_l, n_e = orders, lineitem, events
    viol = {}
    # orders
    okey = np.arange(1, n_o + 1, dtype=np.int64)
    dup = _plant(rng, n_o, 0.002)
    okey[dup] = rng.integers(1, n_o + 1, len(dup))
    viol["orders.o_orderkey.unique"] = int(n_o - len(np.unique(okey)))
    cust = pa.array(rng.integers(1, n_o // 10, n_o), mask=np.isin(np.arange(n_o), _plant(rng, n_o, 0.003)))
    viol["orders.o_custkey.not_null"] = cust.null_count
    status = np.array(STATUSES)[rng.integers(0, 3, n_o)]
    bad = _plant(rng, n_o, 0.001)
    status[bad] = "X"
    viol["orders.o_orderstatus.accepted_values"] = len(bad)
    prio = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_o)]
    bad = _plant(rng, n_o, 0.0015)
    prio[bad] = "urgent!"
    viol["orders.o_orderpriority.matches_regex"] = len(bad)
    odate = _event_times(rng, n_o, _us(2022, 1, 1), PAST_END, 0.001)
    t_orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": cust,
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.uniform(10, 50_000, n_o), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(prio, type=pa.string()),
        "o_clerk": np.char.add("Clerk#", np.char.zfill(rng.integers(1, 1000, n_o).astype(str), 9)),
    })
    # lineitem
    lkey = okey[rng.integers(0, n_o, n_l)]
    orphan = _plant(rng, n_l, 0.001)
    lkey[orphan] = rng.integers(10 * n_o, 20 * n_o, len(orphan))
    viol["lineitem.l_orderkey.ri.orders.o_orderkey"] = int((~np.isin(lkey, okey)).sum())
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    bad = _plant(rng, n_l, 0.0008)
    qty[bad] = rng.choice([0.0, 75.0, 120.0], len(bad))
    viol["lineitem.l_quantity.in_range"] = len(bad)
    disc = rng.integers(0, 11, n_l) / 100.0
    bad = _plant(rng, n_l, 0.0005)
    disc[bad] = 0.5
    viol["lineitem.l_discount.in_range"] = len(bad)
    ship = _event_times(rng, n_l, _us(2022, 1, 1), PAST_END, 0.0005)
    t_lineitem = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(1, 20_000, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(1, 100_000, n_l), 2),
        "l_discount": disc,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(ship),
        "l_shipmode": np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"])[rng.integers(0, 5, n_l)],
    })
    # events
    eid = np.arange(1, n_e + 1, dtype=np.int64)
    dup = _plant(rng, n_e, 0.001)
    eid[dup] = rng.integers(1, n_e + 1, len(dup))
    viol["events.event_id.unique"] = int(n_e - len(np.unique(eid)))
    user = pa.array(rng.integers(1, 5000, n_e), mask=np.isin(np.arange(n_e), _plant(rng, n_e, 0.004)))
    viol["events.user_id.not_null"] = user.null_count
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_e)]
    bad = _plant(rng, n_e, 0.002)
    etype[bad] = "bogus"
    viol["events.event_type.accepted_values"] = len(bad)
    ets = _event_times(rng, n_e, _us(2024, 1, 1), PAST_END, 0.002)
    t_events = pa.table({
        "event_id": eid,
        "ts": _ts(ets),
        "user_id": user,
        "event_type": pa.array(etype, type=pa.string()),
        "value": np.round(rng.exponential(20.0, n_e), 3),
        "country": np.array(["DE", "FR", "KE", "MW", "US", "ZM"])[rng.integers(0, 6, n_e)],
    })
    tables = {"orders": t_orders, "lineitem": t_lineitem, "events": t_events}
    for name, t in tables.items():
        # a multi-file table, as a lake table is: one file would be one scan task
        step = -(-t.num_rows // files)
        for f in range(files):
            _write(t.slice(f * step, step), os.path.join(out, name, f"part-{f:03d}.parquet"))

    # control totals: orders per day, some days off, some missing per side
    days = odate // DAY_US
    uniq, cnt = np.unique(days, return_counts=True)
    ctrl = cnt.copy()
    off = _plant(rng, len(uniq), 0.05)
    ctrl[off] += rng.integers(1, 4, len(off))
    keep = np.ones(len(uniq), bool)
    keep[_plant(rng, len(uniq), 0.02)] = False
    extra_days = np.arange(_us(2021, 12, 1) // DAY_US, _us(2021, 12, 6) // DAY_US)
    c_days = np.concatenate([uniq[keep], extra_days])
    c_cnt = np.concatenate([ctrl[keep], np.full(len(extra_days), 3)])
    _write(pa.table({"day": pa.array(c_days.astype(np.int32), type=pa.date32()), "record_count": c_cnt.astype(np.int64)}), os.path.join(out, "daily_control.parquet"))
    src = dict(zip(uniq.tolist(), cnt.tolist()))
    dst = dict(zip(c_days.tolist(), c_cnt.tolist()))
    recon = {}
    for d in sorted(set(src) | set(dst)):
        s, t = src.get(d), dst.get(d)
        recon[_date(d * DAY_US).isoformat()] = [s, t, (s - t) if (s is not None and t is not None) else None]

    fresh = {
        "orders": _date(odate[odate < PAST_END].max()).isoformat(),
        "lineitem": _date(ship[ship < PAST_END].max()).isoformat(),
        "events": _date(ets[ets < PAST_END].max()).isoformat(),
    }
    profile = {f"{name}.{c}": _profile_col(t.column(c).combine_chunks()) for name, t in tables.items() for c in t.column_names}
    n_rows = {name: t.num_rows for name, t in tables.items()}
    return {
        "input_rows": int(sum(n_rows.values()) + len(c_days)),
        "volume": n_rows,
        "freshness": fresh,
        "violations": viol,
        "profile": profile,
        "reconcile": recon,
        "shares": {k: round(v / n_rows[k.split(".")[0]], 5) for k, v in viol.items()},
    }


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted duplicates
# ---------------------------------------------------------------------------


def shingle_set(text: str, n: int = 3) -> set:
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return np.array(sorted(words) + list(STOPWORDS))


def _corpus(rng, n_docs: int, exact_dup_share: float, near_dup_share: float):
    """Documents with a recorded exact-duplicate share and injected
    near-duplicate variants (one token substituted, Jaccard ~0.9).

    Returns (ids, texts, langs, truth) where truth holds the kept ids of
    exact dedup, the near-duplicate pairs among kept docs (Jaccard >= 0.5
    of 3-token shingles) and the exact-duplicate pairs over all docs.
    """
    vocab = _vocab(rng, 3000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    n_exact = int(round(n_docs * exact_dup_share))
    n_near = int(round(n_docs * near_dup_share))
    n_orig = n_docs - n_exact - n_near
    texts, group = [], []
    for g in range(n_orig):
        ln = int(rng.integers(60, 120))
        toks = vocab[rng.choice(len(vocab), ln, p=zipf)].tolist()
        for j in rng.choice(ln, ln // 15, replace=False):
            toks[j] += "," if rng.random() < 0.5 else "."
        texts.append(" ".join(toks))
        group.append(g)
    for _ in range(n_exact):
        g = int(rng.integers(0, n_orig))
        texts.append(texts[g])
        group.append(g)
    for _ in range(n_near):
        g = int(rng.integers(0, n_orig))
        toks = texts[g].split()
        pos = int(rng.integers(1, len(toks) - 1))
        toks[pos] = "zz" + vocab[int(rng.integers(0, 3000))]
        texts.append(" ".join(toks))
        group.append(g)
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    group = [group[i] for i in order]
    ids = np.arange(1, n_docs + 1, dtype=np.int64) * 7 + 100
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]

    first_by_text: dict[str, int] = {}
    for i, t in sorted(zip(ids.tolist(), texts)):
        first_by_text.setdefault(t, i)
    kept = set(first_by_text.values())
    by_text_ids: dict[str, list[int]] = {}
    for i, t in zip(ids.tolist(), texts):
        by_text_ids.setdefault(t, []).append(i)
    exact_pairs = sorted((a, b) for ids_ in by_text_ids.values() for x, a in enumerate(sorted(ids_)) for b in sorted(ids_)[x + 1:])
    members: dict[int, list[tuple[int, str]]] = {}
    for i, t, g in zip(ids.tolist(), texts, group):
        if i in kept:
            members.setdefault(g, []).append((i, t))
    near = []
    for mem in members.values():
        for x in range(len(mem)):
            for y in range(x + 1, len(mem)):
                (a, ta), (b, tb) = mem[x], mem[y]
                jac = jaccard(ta, tb)
                if jac >= 0.5:
                    near.append((min(a, b), max(a, b), jac))
    near.sort()
    truth = {
        "n_docs": n_docs,
        "kept_exact": sorted(kept),
        "near_pairs": [[a, b] for a, b, _ in near],
        "near_pair_jaccard_min": min(j for _, _, j in near),
        "exact_pairs": [list(p) for p in exact_pairs],
        "shares": {"exact_dup": exact_dup_share, "near_dup": near_dup_share},
    }
    return ids, texts, langs, truth


def _text_report(texts, langs) -> dict:
    rep = {}
    for t, lang in zip(texts, langs.tolist()):
        r = rep.setdefault(lang, {"n_docs": 0, "total_chars": 0, "total_tokens": 0, "total_punct": 0, "total_stopwords": 0})
        toks = t.lower().split()
        r["n_docs"] += 1
        r["total_chars"] += len(t)
        r["total_tokens"] += len(toks)
        r["total_punct"] += sum(1 for ch in t if not (ch.isascii() and (ch.isalnum() or ch.isspace())))
        r["total_stopwords"] += sum(1 for x in toks if x in STOPWORDS)
    return rep


def _docs_table(ids, texts, langs, rng) -> pa.Table:
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": np.array(["crawl-a", "crawl-b", "books", "forum"])[rng.integers(0, 4, len(ids))],
    })


def gen_corpus(out, rng, docs, exact_dup_share, near_dup_share, vectors, dim, clusters, queries, k, batches, keys, ops):
    """One corpus, delivered twice: as a snapshot table for the batch
    curation operators and as ``batches`` micro-batch files for the
    streaming ingest ledger, plus a CDC op stream in as many files."""
    ids, texts, langs, truth = _corpus(rng, docs, exact_dup_share, near_dup_share)
    table = _docs_table(ids, texts, langs, rng)
    _write(table, os.path.join(out, "documents.parquet"))
    truth["text_report"] = _text_report(texts, langs)
    part = rng.integers(0, batches, docs)
    for b in range(batches):
        _stream_file(table.filter(pa.array(part == b)), os.path.join(out, "docs_stream"), b)
    truth["stream_dup_pairs"] = _stream_pairs(ids, texts, truth)

    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, vectors)
    X = (centers[label] + 0.35 * rng.normal(size=(vectors, dim))).astype(np.float32)
    vid = np.arange(1, vectors + 1, dtype=np.int64)
    Q = (centers[rng.integers(0, clusters, queries)] + 0.35 * rng.normal(size=(queries, dim))).astype(np.float32)
    qid = np.arange(1, queries + 1, dtype=np.int64) + 10_000_000

    def vec_table(ids_, M, labels):
        return pa.table({
            "vec_id": ids_,
            "embedding": pa.array(list(M), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        })

    _write(vec_table(vid, X, label), os.path.join(out, "embeddings.parquet"))
    _write(vec_table(qid, Q, np.full(queries, -1)), os.path.join(out, "queries.parquet"))
    Xu = X.astype(np.float64)
    Xu /= np.linalg.norm(Xu, axis=1, keepdims=True)
    Qu = Q.astype(np.float64)
    Qu /= np.linalg.norm(Qu, axis=1, keepdims=True)
    S = Qu @ Xu.T
    topk = {}
    for qi in range(queries):
        o = np.lexsort((vid, -S[qi]))[:k]
        topk[str(int(qid[qi]))] = {"ids": vid[o].tolist(), "cos": S[qi][o].tolist()}
    all_cos = {str(int(qid[qi])): S[qi].tolist() for qi in range(queries)}
    with open(os.path.join(out, "cosines.json"), "w") as fh:
        json.dump({"vec_ids": vid.tolist(), "cos": all_cos}, fh)
    truth.update(_ops(rng, out, batches, keys, ops))
    truth.update({
        # the stream re-reads the corpus, so its documents count twice
        "input_rows": int(2 * docs + vectors + queries + ops),
        "batches": batches,
        "topk": topk,
        "k": k,
        "shares": {**truth["shares"], "vector_clusters": clusters, "delete_ops": 0.15, "negative_v": 0.01, "null_note": 0.02},
    })
    return truth


#: stream files get increasing modification times, which is the order a
#: file stream source reads them in
_BASE_MTIME = 1_700_000_000


def _stream_file(table: pa.Table, d: str, b: int) -> None:
    p = os.path.join(d, f"batch-{b:03d}.parquet")
    _write(table, p)
    os.utime(p, (_BASE_MTIME + b, _BASE_MTIME + b))


def _stream_pairs(ids, texts, ctruth) -> list:
    """All pairs with Jaccard >= 0.5: exact copies included, since no
    exact-dedup pass runs ahead of the stream, and every near pair
    extended to the exact copies of either side."""
    rep_of = {}
    for i, t in sorted(zip(ids.tolist(), texts)):
        rep_of.setdefault(t, i)
    copies: dict[int, list[int]] = {}
    for i, t in zip(ids.tolist(), texts):
        copies.setdefault(rep_of[t], []).append(i)
    pairs = {tuple(p) for p in ctruth["exact_pairs"]}
    for a, b in ctruth["near_pairs"]:
        for x in copies[a]:
            for y in copies[b]:
                pairs.add((min(x, y), max(x, y)))
    return sorted(list(p) for p in pairs)


def _ops(rng, out, batches, keys, ops) -> dict:
    """CDC op stream: upserts and deletes with out-of-order timestamps,
    negative amounts and null notes planted for the rule monitor."""
    k = rng.integers(1, keys + 1, ops).astype(np.int64)
    ts = rng.integers(0, 1_000_000, ops).astype(np.int64)
    seq = np.arange(1, ops + 1, dtype=np.int64)
    op = np.where(rng.random(ops) < 0.15, "delete", "upsert")
    v = np.round(rng.uniform(0, 1000, ops), 2)
    neg = _plant(rng, ops, 0.01)
    v[neg] = -v[neg] - 1.0
    note_mask = np.zeros(ops, bool)
    note_mask[_plant(rng, ops, 0.02)] = True
    note = pa.array(np.array(["ok", "late", "manual", "retry"])[rng.integers(0, 4, ops)], mask=note_mask)
    ops_t = pa.table({"k": k, "ts": ts, "seq": seq, "op": pa.array(op, type=pa.string()), "v": v, "note": note})
    opart = rng.integers(0, batches, ops)
    monitor = []
    for b in range(batches):
        m = opart == b
        _stream_file(ops_t.filter(pa.array(m)), os.path.join(out, "ops"), b)
        monitor.append({
            "n_rows": int(m.sum()),
            "ops.note.not_null": int(note_mask[m].sum()),
            "ops.op.accepted_values": 0,
            "ops.v.in_range": int((v[m] < 0).sum()),
        })
    last = {}
    for i in np.lexsort((seq, ts, k)):
        last[int(k[i])] = i
    state = {str(kk): [int(ts[i]), int(seq[i]), float(v[i])] for kk, i in sorted(last.items()) if op[i] != "delete"}
    return {"cdc_state": state, "monitor": monitor}


GENERATORS = {
    "fleet_audit": gen_fleet,
    "table_audit": gen_tables,
    "corpus_curation": gen_corpus,
}
