#!/usr/bin/env python
"""EDA insights report — the Spark-native twin of the reference's
`eda/supply_chain_eda.py` (its `run_complete_analysis` drives seven
analysis modules and writes a markdown report + CSV exports,
eda/supply_chain_eda.py:903-1010). Same sections, same computations,
re-expressed on the engine's own operators; only the matplotlib chart
rendering is out of scope (an engine has no pixels — every number a
chart would show is in the tables this writes).

Sections (reference dual in parens):
  1. Data quality        (data_quality_analysis:116)  — null profile +
     duplicate counts per silver table, rejects by reason
  2. Supply chain overview (supply_chain_overview:335) — entity counts,
     order-status and category distributions
  3. Financial           (financial_analysis:413)     — revenue KPIs,
     monthly revenue, top categories by revenue
  4. Inventory           (inventory_analysis:500)     — stock status
     distribution, low-stock products
  5. Correlations        (correlation_analysis:592)   — numeric corr
     matrix on order measures
  6. Statistical summary (statistical_summary_analysis:650) — exact
     describe+ moments on key measures
  7. Reconciliation      (data_reconciliation:810)    — silver↔gold
     measure parity

Usage:
    python tools/eda_report.py [--warehouse /tmp/mdp_wh] [--out DIR]

If the warehouse doesn't exist it is built first (fixtures → bronze →
silver → gold, the etl.py path). Writes <out>/eda_insights_report.md
and <out>/csv/*.csv.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _md_table(rows: list[dict]) -> list[str]:
    if not rows:
        return ["(empty)"]
    cols = list(rows[0].keys())
    out = ["| " + " | ".join(cols) + " |",
           "|" + "|".join("---" for _ in cols) + "|"]
    for r in rows:
        out.append("| " + " | ".join(str(r[c]) for c in cols) + " |")
    return out


def _csv(df, out_dir: str, name: str) -> None:
    df.toPandas().to_csv(os.path.join(out_dir, "csv", f"{name}.csv"),
                         index=False)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", default="/tmp/mdp_eda_wh")
    ap.add_argument("--out", default="/tmp/mdp_eda_out")
    args = ap.parse_args()

    from medallion_data_pipeline_spark._util import read_table
    from medallion_data_pipeline_spark.operators import profiling as P
    from medallion_data_pipeline_spark.plans import (bronze, fixtures, gold,
                                                     quality, silver)
    from medallion_data_pipeline_spark.session import get_spark

    spark = get_spark("eda-report", 8)
    wh = args.warehouse
    if not os.path.isdir(os.path.join(wh, "gold")):
        bronze.write_bronze(fixtures.generate_bronze(spark, n_orders=5000), wh)
        silver.run_silver(spark, wh, run_id="eda")
        gold.run_gold(spark, wh)

    os.makedirs(os.path.join(args.out, "csv"), exist_ok=True)
    insights: list[str] = []
    sec: list[str] = []

    # 1. data quality ------------------------------------------------
    sec.append("## 1. Data quality")
    for name in silver.SILVER_TABLES:
        df = read_table(spark, wh, "silver", name)
        nulls = P.null_profile(df)
        worst_rows = nulls.orderBy(F.desc("pct_nulls")).limit(1).collect()
        dups = P.duplicate_count(df)
        line = f"- **{name}**: {df.count()} rows, {dups} exact-dup rows"
        if worst_rows:
            w = worst_rows[0]
            line += (f", worst null column: {w['column']} "
                     f"({float(w['pct_nulls']):.2f}%)")
        sec.append(line)
        _csv(nulls, args.out, f"nulls_{name}")
    rejects = read_table(spark, wh, "audit", "rejected_rows")
    by_reason = rejects.groupBy("table_name", "reason") \
        .agg(F.count(F.lit(1)).alias("n")).orderBy(F.desc("n"))
    sec += ["", "Rejected rows by reason:", ""]
    sec += _md_table([r.asDict() for r in by_reason.limit(10).collect()])
    insights.append(f"Validation rejected {rejects.count()} rows into the "
                    "audit layer (top reasons tabled above) — audit-don't-drop")
    _csv(by_reason, args.out, "rejects_by_reason")

    # 2. overview ----------------------------------------------------
    sec.append("\n## 2. Supply chain overview")
    orders = read_table(spark, wh, "silver", "supply_orders")
    status = orders.groupBy("status").agg(
        F.count(F.lit(1)).alias("n")).orderBy(F.desc("n"))
    sec += _md_table([r.asDict() for r in status.collect()])
    top_status = status.first()
    insights.append(f"Most common order status: {top_status['status']}"
                    f" ({top_status['n']} orders)")
    _csv(status, args.out, "order_status")

    # 3. financial ---------------------------------------------------
    sec.append("\n## 3. Financial analysis")
    monthly = read_table(spark, wh, "gold", "monthly_sales_performance")
    kpis = monthly.agg(
        F.sum("total_revenue").alias("revenue"),
        F.sum("order_count").alias("orders")).collect()[0]
    sec.append(f"- Total revenue: {float(kpis['revenue']):,.2f}")
    sec.append(f"- Total orders: {kpis['orders']:,}")
    top_m = monthly.orderBy(F.desc("total_revenue")).limit(5)
    sec += ["", "Top revenue months:", ""]
    keep = [c for c in ("order_year_month", "product_category",
                        "total_revenue") if c in monthly.columns]
    sec += _md_table([{k: r[k] for k in keep} for r in top_m.collect()])
    insights.append(f"Total revenue across marts: {kpis['revenue']:,.0f}")
    _csv(monthly, args.out, "monthly_sales")

    # 4. inventory ---------------------------------------------------
    sec.append("\n## 4. Inventory analysis")
    inv = read_table(spark, wh, "gold", "inventory_health_metrics")
    stock_col = next((c for c in inv.columns if "status" in c), None)
    if stock_col:
        dist = inv.groupBy(stock_col).agg(F.count(F.lit(1)).alias("n"))
        sec += _md_table([r.asDict() for r in dist.collect()])
        low = [r for r in dist.collect() if "LOW" in str(r[stock_col]).upper()]
        if low:
            insights.append(f"{low[0]['n']} product/warehouse positions "
                            "are LOW stock")
    _csv(inv, args.out, "inventory_health")

    # 5. correlations ------------------------------------------------
    sec.append("\n## 5. Correlations (order measures)")
    num_cols = [c for c in ("quantity", "price", "total_invoice")
                if c in orders.columns]
    corr = P.correlation_matrix(orders, num_cols)
    sec += _md_table([r.asDict() for r in corr.collect()])
    _csv(corr, args.out, "correlations")

    # 6. statistical summary -----------------------------------------
    sec.append("\n## 6. Statistical summary")
    for c in num_cols[:2]:
        sec.append(f"\n`{c}`:")
        sec += _md_table([r.asDict()
                          for r in P.describe_plus(orders, c).collect()])

    # 7. reconciliation ----------------------------------------------
    sec.append("\n## 7. Cross-layer reconciliation")
    rec = quality.reconcile_silver_gold(spark, wh)
    rec_rows = [r.asDict() for r in rec.collect()]
    sec += _md_table(rec_rows)
    bad = [r for r in rec_rows if not r["passed"]]
    insights.append("All silver↔gold measures reconcile within tolerance"
                    if not bad else
                    f"{len(bad)} reconciliation measures OUT of tolerance")
    _csv(rec, args.out, "reconciliation")

    # report ----------------------------------------------------------
    dq = quality.run_quality_checks(spark, wh)
    n_fail = dq.filter(~F.col("passed")).count()
    insights.append(f"Gold DQ checks: {dq.count() - n_fail}/{dq.count()} "
                    "passed")

    report = ["# Supply Chain Data Pipeline — EDA Insights Report",
              "(Spark-native twin of the reference's "
              "eda/supply_chain_eda.py; deterministic, no pixels)",
              "", "## Key insights"]
    report += [f"{i}. {s}" for i, s in enumerate(insights, 1)]
    report += ["", *sec]
    path = os.path.join(args.out, "eda_insights_report.md")
    with open(path, "w") as fh:
        fh.write("\n".join(report) + "\n")
    print(f"report: {path}")
    print(f"csv exports: {len(os.listdir(os.path.join(args.out, 'csv')))}")
    print(f"insights: {len(insights)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
