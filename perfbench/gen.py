"""Input generator of the graft benchmark's `lakehouse_etl` workload.

Its source is the repository's sf0.01 test data, committed under
`perfbench/data/sf0.01` (the tables the query workloads read as they
are). `etl_inputs(repo, work, data, seed)` maps its part/orders/lineitem
to the reference's bronze CSV schemas with the repository's own
`tools/gen_etl_drops.py` and splits the result into one CSV per day
(`orders/<date>.csv`). The seed picks the products that arrive late
(their items are quarantined until they land), the ~1% of older orders
that are re-delivered with changed amounts, and the product renames.
Each batch also lands the next SLICE_HOURS of the test data's `events`
table as one stream slice. A manifest records, per batch, the touched
dates and the expected silver / quarantine counts and hourly event
counts after it.
"""
import csv
import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BACKFILL_DAYS = 7
BATCH_DAYS = 7
MAX_BATCHES = 10
SLICE_HOURS = 24


def _read_csv(path):
    with open(path, newline="") as f:
        r = csv.reader(f)
        header = next(r)
        return header, list(r)


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def etl_inputs(repo, work, data, seed):
    """Seeded day-split drops of the test data in `data`, written under
    `work`; returns the manifest path."""
    mapped = f"{work}/etl_mapped"
    if not os.path.exists(f"{mapped}/expected.json"):
        shutil.rmtree(mapped, ignore_errors=True)
        subprocess.run([sys.executable, f"{repo}/tools/gen_etl_drops.py", data, mapped],
                       check=True, stdout=subprocess.DEVNULL)
    out = f"{work}/etl_{seed}"
    if os.path.exists(f"{out}/manifest.json"):
        return f"{out}/manifest.json"
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng(seed & (2 ** 64 - 1))  # numpy takes no negative seed

    p_head, products = _read_csv(f"{mapped}/products.csv")
    o_head, orders = _read_csv(f"{mapped}/orders/o.csv")
    i_head, items = _read_csv(f"{mapped}/order_items/i.csv")
    o_date, i_date, i_prod = o_head.index("date"), i_head.index("date"), i_head.index("product_id")
    o_amt = o_head.index("total_amount")

    days = sorted({r[o_date] for r in orders})
    backfill = days[:BACKFILL_DAYS]
    batches = [days[BACKFILL_DAYS + k * BATCH_DAYS: BACKFILL_DAYS + (k + 1) * BATCH_DAYS]
               for k in range(MAX_BATCHES)]
    batches = [b for b in batches if b]
    by_day_o, by_day_i = {}, {}
    for r in orders:
        by_day_o.setdefault(r[o_date], []).append(r)
    for r in items:
        by_day_i.setdefault(r[i_date], []).append(r)

    # 1% of products are withheld from the initial delivery; each batch
    # delivers some of them with probability 0.3
    pids = [r[0] for r in products]
    withheld = set(rng.choice(pids, size=max(1, len(pids) // 100), replace=False).tolist())
    late_queue = sorted(withheld, key=int)
    rng.shuffle(late_queue)
    _write_csv(f"{out}/backfill/products/products.csv", p_head,
               [r for r in products if r[0] not in withheld])
    for d in backfill:
        _write_csv(f"{out}/backfill/orders/{d}.csv", o_head, by_day_o.get(d, []))
        _write_csv(f"{out}/backfill/order_items/{d}.csv", i_head, by_day_i.get(d, []))

    delivered_products = set(pids) - withheld
    pending_items = []   # (date, product) of quarantined items
    n_orders = n_items = 0

    def land_items(rows):
        nonlocal n_items
        for r in rows:
            if r[i_prod] in delivered_products:
                n_items += 1
            else:
                pending_items.append((r[i_date], r[i_prod]))

    for d in backfill:
        n_orders += len(by_day_o.get(d, []))
        land_items(by_day_i.get(d, []))
    expected_backfill = {"silver_products": len(delivered_products), "silver_orders": n_orders,
                         "silver_order_items": n_items, "quarantine": len(pending_items)}

    # the stream's timestamps are UTC; slices start at the first event's day
    events = pq.read_table(f"{data}/events.parquet")
    events = events.set_column(events.schema.get_field_index("ts"), "ts",
                               events["ts"].cast(pa.timestamp("us", tz="UTC")))
    first = pc.min(events["ts"]).as_py()
    t0 = dt.datetime(first.year, first.month, first.day, tzinfo=dt.timezone.utc)
    window_counts = {}
    loaded_days = list(backfill)
    manifest_batches = []
    for k, bdays in enumerate(batches):
        bdir = f"{out}/batch_{k:03d}"
        touched = set(bdays)
        # products: a few renames of live products, plus late arrivals
        prod_by_id = {r[0]: r for r in products}
        renames = rng.choice(sorted(delivered_products, key=int), size=5, replace=False).tolist()
        prows = [prod_by_id[p][:3] + [prod_by_id[p][3] + f" v{k + 1}"] for p in renames]
        late = []
        if late_queue and rng.random() < 0.3:
            late = late_queue[:max(1, len(withheld) // 4)]
            del late_queue[:len(late)]
            prows += [prod_by_id[p] for p in late]
        _write_csv(f"{bdir}/products/products_{k:03d}.csv", p_head, prows)
        for d in bdays:
            _write_csv(f"{bdir}/orders/{d}.csv", o_head, by_day_o.get(d, []))
            _write_csv(f"{bdir}/order_items/{d}.csv", i_head, by_day_i.get(d, []))
        # re-deliveries of ~1% of older orders with changed amounts
        old = [r for d in loaded_days for r in by_day_o.get(d, [])]
        pick = rng.choice(len(old), size=max(1, len(old) // 100), replace=False)
        corr = []
        for j in sorted(pick.tolist()):
            r = list(old[j])
            r[o_amt] = f"{round(float(r[o_amt]) * 1.1 + 1, 2):.2f}"
            corr.append(r)
            touched.add(r[o_date])
        _write_csv(f"{bdir}/orders/corrections_{k:03d}.csv", o_head, corr)

        delivered_products.update(late)
        recovered = [(d, p) for d, p in pending_items if p in delivered_products]
        pending_items[:] = [(d, p) for d, p in pending_items if p not in delivered_products]
        n_items += len(recovered)
        touched.update(d for d, _ in recovered)
        for d in bdays:
            n_orders += len(by_day_o.get(d, []))
            land_items(by_day_i.get(d, []))
        loaded_days += bdays

        # one events slice: the next SLICE_HOURS of the test data's events
        lo = t0 + dt.timedelta(hours=SLICE_HOURS * k)
        hi = lo + dt.timedelta(hours=SLICE_HOURS)
        sl = events.filter(pc.and_(pc.greater_equal(events["ts"], pa.scalar(lo, events["ts"].type)),
                                   pc.less(events["ts"], pa.scalar(hi, events["ts"].type))))
        os.makedirs(f"{bdir}/events", exist_ok=True)
        pq.write_table(sl, f"{bdir}/events/slice_{k:03d}.parquet", compression="snappy")
        for t, e in zip(sl["ts"].to_pylist(), sl["event_type"].to_pylist()):
            key = f"{int(t.timestamp()) // 3600 * 3600}|{e}"
            window_counts[key] = window_counts.get(key, 0) + 1

        manifest_batches.append({
            "dir": bdir, "days": bdays, "touched_dates": sorted(touched),
            "late_products": len(late),
            "expected": {"silver_products": len(delivered_products), "silver_orders": n_orders,
                         "silver_order_items": n_items, "quarantine": len(pending_items),
                         "event_windows": dict(window_counts)}})

    manifest = {"seed": seed, "backfill": {"dir": f"{out}/backfill", "days": backfill,
                                           "expected": expected_backfill},
                "batches": manifest_batches}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return f"{out}/manifest.json"
