"""Seeded, single-threaded input generators for the benchmark.

Each generator writes files the program reads and returns what a correct
program must produce from them. The program only ever sees the files.

* Ads insights: one ``account_<id>.jsonl`` per account, in the nested raw
  record shape of the insights source. Rows carry re-sent copies (same key,
  later ingest position, different metrics), keys shared across accounts
  (the lower account position wins), repeated action types inside a record
  (the later entry wins), dotted action types, and a new action type every
  few days, so dedup order and schema evolution both matter.
* Star schema: ``region nation customer supplier part orders lineitem`` as
  parquet, with the value domains the query pack's literals refer to.
"""
import datetime as dt
import json

PLATFORMS = ["facebook", "instagram", "audience_network", "messenger"]
BASE_ACTIONS = (
    ["link_click", "post_engagement", "page_engagement", "landing_page_view",
     "video_view", "post_reaction", "comment", "like", "photo_view", "lead",
     "onsite_conversion.post_save", "onsite_conversion.lead_grouped",
     "offsite_conversion.fb_pixel_lead", "offsite_conversion.fb_pixel_purchase",
     "offsite_conversion.fb_pixel_add_to_cart", "offsite_conversion.fb_pixel_view_content",
     "omni_purchase", "omni_add_to_cart", "omni_initiated_checkout", "omni_view_content"]
    + [f"custom_event_{i}" for i in range(12)]
    + [f"app_custom_event.fb_mobile_{n}" for n in
       ("purchase", "add_to_cart", "level_achieved", "activate_app",
        "complete_registration", "search")])
NEW_TYPE_EVERY = 3  # days between two new action types


def action_pool(day_index):
    """Action types a record of this day may carry."""
    return BASE_ACTIONS + [f"novel_metric.d{d}" for d in range(0, day_index + 1, NEW_TYPE_EVERY)]


def normalize(action_type):
    return action_type.replace(".", "_")


class AdsDay:
    """Raw records of one reporting day for every account, each stamped with
    its ingest position in the account's stream."""

    def __init__(self, rng, accounts, rows_per_account, date, day_index, next_idx):
        self.records = {a: [] for a in accounts}
        pool = action_pool(day_index)
        newest = pool[-1] if day_index % NEW_TYPE_EVERY == 0 else None
        ads = rows_per_account // len(PLATFORMS)
        for acct in accounts:
            recs = self.records[acct]
            for ad in range(ads):
                for plat in PLATFORMS:
                    shared = rng.random() < 0.03
                    camp = f"shared_c{ad % 7}" if shared else f"c{acct}_{ad % 5}"
                    name = f"shared_ad{ad}" if shared else f"ad{acct}_{ad}"
                    recs.append(self._record(rng, camp, name, plat, date, pool, newest))
            # ~5% re-sent rows: same key, new metrics, later in the stream
            for r in rng.sample(recs, max(1, len(recs) // 20)):
                recs.append(self._record(rng, r["campaign_name"], r["ad_name"],
                                         r["publisher_platform"], date, pool, None))
            rng.shuffle(recs)
            for r in recs:
                r["ingest_idx"] = next_idx[acct]
                next_idx[acct] += 1

    @staticmethod
    def _record(rng, camp, ad, plat, date, pool, newest):
        n_actions = rng.randint(0, 5)
        acts = [{"action_type": rng.choice(pool), "value": str(rng.randint(1, 500))}
                for _ in range(n_actions)]
        if newest is not None and rng.random() < 0.2:
            acts.append({"action_type": newest, "value": str(rng.randint(1, 50))})
        if acts and rng.random() < 0.05:  # repeated type: the later entry wins
            acts.append({"action_type": acts[0]["action_type"], "value": str(rng.randint(1, 500))})
        spend_cents = rng.randint(0, 250000)

        def wrap(lo, hi):
            return [{"value": str(rng.randint(lo, hi))}]

        rec = {
            "campaign_name": camp, "ad_name": ad, "publisher_platform": plat,
            "impressions": str(rng.randint(0, 100000)), "clicks": str(rng.randint(0, 3000)),
            "spend": f"{spend_cents // 100}.{spend_cents % 100:02d}",
            "date_start": date, "date_stop": date,
            "video_continuous_2_sec_watched_actions": wrap(0, 900),
            "video_30_sec_watched_actions": wrap(0, 300),
            "video_avg_time_watched_actions": [{"value": f"{rng.randint(0, 600) / 10}"}],
            "video_p25_watched_actions": wrap(0, 800),
            "video_p50_watched_actions": wrap(0, 500),
            "video_p75_watched_actions": [] if rng.random() < 0.02 else wrap(0, 300),
            "video_p100_watched_actions": wrap(0, 200),
            "actions": acts if acts or rng.random() < 0.5 else None,
            "results": "ignored",
        }
        if rec["actions"] is None:
            del rec["actions"]
        return rec


def winners(accounts, days):
    """First-wins over (campaign, ad, date, platform): account position
    first, then ingest position (records are kept in ingest order)."""
    win = {}
    for day in days:
        for acct in accounts:
            for r in sorted(day.records[acct], key=lambda r: r["ingest_idx"]):
                key = (r["campaign_name"], r["ad_name"], r["date_start"], r["publisher_platform"])
                if key not in win:
                    win[key] = r
    return list(win.values())


def summary(rows):
    """Order-independent checksum of flattened winners, as the harness
    computes it from the table."""
    s = {"rows": len(rows), "impressions": 0, "clicks": 0, "spend_cents": 0, "actions_sum": 0}
    for r in rows:
        s["impressions"] += int(r["impressions"])
        s["clicks"] += int(r["clicks"])
        whole, frac = r["spend"].split(".")
        s["spend_cents"] += int(whole) * 100 + int(frac)
        last = {}
        for a in r.get("actions") or []:
            last[a["action_type"]] = int(a["value"])
        s["actions_sum"] += sum(last.values())
    return s


def action_types(rows):
    return {normalize(a["action_type"]) for r in rows for a in (r.get("actions") or [])}


def write_accounts(path, accounts, records_by_account):
    path.mkdir(parents=True, exist_ok=True)
    for acct in accounts:
        with open(path / f"account_{acct}.jsonl", "w") as f:
            for r in records_by_account[acct]:
                f.write(json.dumps(r, separators=(",", ":")))
                f.write("\n")


def ads_daily(rng, root, n_accounts, rows_per_account, n_days, n_warm):
    """Per-day landing dirs ``daily/<date>`` and ``warm/<date>``; returns the
    manifest entries and per-day expectations."""
    accounts = [f"{i:03d}" for i in range(n_accounts)]
    first = dt.date(2024, 1, 1)
    next_idx = {a: 0 for a in accounts}
    expect = []
    manifest = {"accounts": ",".join(accounts)}
    dates = []
    for d in range(n_days):
        date = (first + dt.timedelta(days=d)).isoformat()
        day = AdsDay(rng, accounts, rows_per_account, date, d, next_idx)
        write_accounts(root / "daily" / date, accounts, day.records)
        w = winners(accounts, [day])
        s = summary(w)
        s["action_columns"] = action_types(w)
        expect.append((date, s))
        dates.append(date)
        manifest[f"raw_rows.{date}"] = sum(len(v) for v in day.records.values())
    warm = []
    for k in range(n_warm):
        date = (first - dt.timedelta(days=n_warm - k)).isoformat()
        day = AdsDay(rng, accounts, rows_per_account, date, k, dict(next_idx))
        write_accounts(root / "warm" / date, accounts, day.records)
        warm.append(date)
    manifest.update({"days": ",".join(dates), "warm_days": ",".join(warm)})
    return manifest, expect


def ads_backfill(rng, root, n_accounts, rows_per_account, n_days):
    """One landing dir holding ``n_days`` of rows per account plus rows
    outside the backfill range on both sides."""
    accounts = [f"{i:03d}" for i in range(n_accounts)]
    first = dt.date(2024, 3, 1)
    next_idx = {a: 0 for a in accounts}
    records = {a: [] for a in accounts}
    days = []
    # one out-of-range day before and after the range, at a tenth of the volume
    for d in range(-1, n_days + 1):
        date = (first + dt.timedelta(days=d)).isoformat()
        per = rows_per_account if 0 <= d < n_days else max(len(PLATFORMS), rows_per_account // 10)
        day = AdsDay(rng, accounts, per, date, max(d, 0), next_idx)
        days.append(day)
        for a in accounts:
            records[a].extend(day.records[a])
    for a in accounts:  # the source pages interleave days
        records[a].sort(key=lambda r: r["ingest_idx"])
    write_accounts(root / "landing", accounts, records)
    start = first.isoformat()
    end = (first + dt.timedelta(days=n_days - 1)).isoformat()
    all_w = winners(accounts, days)
    in_range = [r for r in all_w if start <= r["date_start"] <= end]
    s = summary(in_range)
    s["action_columns"] = action_types(all_w)
    manifest = {
        "accounts": ",".join(accounts), "landing": str(root / "landing"),
        "start": start, "end": end,
        "landing_raw_rows": sum(len(v) for v in records.values()),
    }
    return manifest, s


# ---------------------------------------------------------------- star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def star_schema(seed, root, sf):
    """The seven star-schema tables at scale factor ``sf`` (sf 1 = 6M
    lineitems), uniform value distributions over the pack's domains; seeded
    with ``numpy.random.default_rng(seed)``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), root / f"{name}.parquet")

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[g.integers(0, len(values), n)].tolist(),
                        pa.string())

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(lo, hi, n):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int)
        d = base + g.integers(0, span + 1, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(g.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + g.integers(0, 1000, n_part) / 10.0)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(g.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(g.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(g.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_line)),
        "l_discount": pa.array(g.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})
