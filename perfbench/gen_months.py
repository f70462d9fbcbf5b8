"""Seeded monthly trip-file generator for the `ingest_monthly` workload.

Cuts source-shaped monthly trip files from the fixture's `orders` table,
which spans 80 order-months. Each file follows the column recipe of
`graft.ops.Pipeline.syntheticTripsRaw`: the upstream names `PULocationID` /
`DOLocationID` arrive as BIGINT and an extra upstream column rides along, so
`Schemas.conform` does real work.

The seed picks which months are delivered, in what order, and which of them
are delivered a second time later in the sequence (a re-delivery must land
0 rows). The same seed gives byte-identical files and the same sequence.
The seed is stored in each file's parquet key-value metadata and in
`manifest.json`.

Usage: python3 perfbench/gen_months.py <fixture_dir> <out_dir> <seed>
           [months] [redeliveries]
"""
import json
import os
import random
import sys

import duckdb
import pyarrow.parquet as pq

TRIPS_SQL = """
SELECT 'HV' || lpad(CAST(o_orderkey % 4 AS VARCHAR), 4, '0')
         AS hvfhs_license_num,
       'B' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
         AS dispatching_base_num,
       o_orderdate AS request_datetime,
       CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE o_orderdate + (o_orderkey % 10) * INTERVAL 1 MINUTE
       END AS on_scene_datetime,
       o_orderdate + (o_orderkey % 10 + 2) * INTERVAL 1 MINUTE
         AS pickup_datetime,
       o_orderdate + (o_orderkey % 10 + 2 + o_orderkey % 120 + 5)
         * INTERVAL 1 MINUTE AS dropoff_datetime,
       o_custkey % 265 + 1 AS PULocationID,
       o_orderkey % 265 + 1 AS DOLocationID,
       o_totalprice * 0.08875 AS sales_tax,
       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2.75 ELSE 0.0 END AS DOUBLE)
         AS congestion_surcharge,
       CAST(CASE WHEN o_orderkey % 10 = 0 THEN 2.5 ELSE 0.0 END AS DOUBLE)
         AS airport_fee,
       o_totalprice * 0.1 AS tips,
       o_totalprice * 0.7 AS driver_pay,
       o_orderstatus AS extra_upstream_noise
FROM read_parquet(?)
WHERE strftime(o_orderdate, '%Y-%m') = ?
ORDER BY o_orderkey
"""


def delivery_plan(all_months, seed, months, redeliveries):
    """The seeded delivery sequence: a list of (month, is_redelivery)."""
    rng = random.Random(seed)
    chosen = rng.sample(all_months, months)
    plan = [(m, False) for m in chosen]
    for m in rng.sample(chosen, redeliveries):
        first = plan.index((m, False))
        plan.insert(rng.randint(first + 1, len(plan)), (m, True))
    return plan


def write(fixture_dir, out_dir, seed, months=12, redeliveries=3):
    """Write the month files and `manifest.json`; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    orders = os.path.join(fixture_dir, "orders.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    all_months = [r[0] for r in con.execute(
        "SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m "
        "FROM read_parquet(?) ORDER BY m", [orders]).fetchall()]
    plan = delivery_plan(all_months, seed, months, redeliveries)
    files, deliveries = {}, []
    for month, again in plan:
        if month not in files:
            table = con.execute(TRIPS_SQL, [orders, month]).arrow()
            table = table.replace_schema_metadata(
                {"perfbench.seed": str(seed), "perfbench.month": month})
            path = os.path.join(out_dir, f"fhvhv_tripdata_{month}.parquet")
            pq.write_table(table, path)
            files[month] = {"file": path, "rows": table.num_rows,
                            "bytes": os.path.getsize(path)}
        deliveries.append(dict(files[month], month=month, redelivery=again))
    manifest = {"seed": seed, "months": len(files),
                "redeliveries": redeliveries, "deliveries": deliveries}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    a = sys.argv
    m = write(a[1], a[2], int(a[3]), *(int(x) for x in a[4:6]))
    print(json.dumps({k: m[k] for k in ("seed", "months", "redeliveries")}))
