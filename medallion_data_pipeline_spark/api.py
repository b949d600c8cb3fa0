"""Engine facade: the ad-hoc SQL + catalog surface (SURVEY §2.9 U4,
§3.2 — the reference's Streamlit Query Runner and Database Explorer).

The reference executes arbitrary user SQL through psycopg2 and browses
the catalog via pg_tables/information_schema (app.py:655-682,
1235-1311). Here `sql()` IS Catalyst (spark.sql over registered layer
views) and the catalog calls are spark.catalog.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import read_table


class MedallionEngine:
    """Query/catalog facade over a parquet warehouse laid out as
    ``<warehouse>/{bronze,silver,gold,audit}/<table>``."""

    LAYERS = ("bronze", "silver", "gold", "audit")

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    # -- catalog ---------------------------------------------------------
    def list_tables(self) -> list[tuple[str, str]]:
        out = []
        for layer in self.LAYERS:
            root = os.path.join(self.warehouse, layer)
            if os.path.isdir(root):
                for name in sorted(os.listdir(root)):
                    if os.path.isdir(os.path.join(root, name)):
                        out.append((layer, name))
        return out

    def table(self, layer: str, name: str) -> DataFrame:
        return read_table(self.spark, self.warehouse, layer, name)

    def table_schema(self, layer: str, name: str) -> list[tuple[str, str]]:
        """information_schema.columns equivalent (app.py:1305-1311)."""
        return self.table(layer, name).dtypes

    def row_count(self, layer: str, name: str) -> int:
        return self.table(layer, name).count()

    def register_views(self) -> None:
        """Expose every table as `<layer>_<name>` temp views so user SQL
        can reference them (the Query Runner's schema-qualified names)."""
        for layer, name in self.list_tables():
            self.table(layer, name).createOrReplaceTempView(f"{layer}_{name}")

    #: rows shipped to the driver as the query-runner preview page
    PREVIEW_ROWS = 100

    # -- query runner ------------------------------------------------------
    def sql(self, query: str) -> tuple[DataFrame, float, list]:
        """Ad-hoc SQL passthrough with the reference's timing metric
        (app.py:1377-1394). Catalyst parses/optimizes/executes.

        The plan executes ONCE: it is persisted (memory, spilling to
        disk — bounded DRIVER memory regardless of result size), timed
        through the executor-side ``noop`` sink, and the capped preview
        page (``PREVIEW_ROWS``) is read back from that same cached
        execution — preview rows are consistent with the timed run even
        under nondeterministic ordering/sampling, and an expensive query
        is not paid for twice. The timed seconds include the cache
        write; the cache needs executor memory+disk proportional to the
        result. The cache is released before returning; re-running the
        returned DataFrame recomputes. Callers page the rest via
        :meth:`page` or ``df.limit(...)``.
        """
        from pyspark import StorageLevel

        df = self.spark.sql(query)
        df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            secs = time.time() - t0
            preview = df.limit(self.PREVIEW_ROWS).collect()
        finally:
            df.unpersist()
        return df, secs, preview

    def page(self, layer: str, name: str, limit: int = 50, offset: int = 0,
             order_by: str | None = None) -> DataFrame:
        """LIMIT/OFFSET pagination (app.py:1279-1282). Stable pages need
        a TOTAL order, and a non-unique ``order_by`` column alone lets
        rows repeat or vanish across pages — so every remaining column
        is appended as a deterministic tiebreak (the registry's own
        "every LIMIT has a total-order ORDER BY" contract, applied to
        the facade). Non-orderable column types (maps) are skipped —
        Spark cannot sort them; rows identical in all ORDERABLE columns
        are interchangeable, which is total as a multiset: pages are
        disjoint and exhaustive."""
        from pyspark.sql.types import MapType

        df = self.table(layer, name)
        key = order_by or df.columns[0]
        orderable = [f.name for f in df.schema.fields
                     if not isinstance(f.dataType, MapType)]
        tiebreak = [F.asc(c) for c in orderable if c != key]
        return (df.orderBy(F.asc(key), *tiebreak)
                .offset(offset).limit(limit))


#: Query-Runner sample queries (reference app.py:1344-1356) re-keyed to
#: the warehouse views registered by MedallionEngine.register_views().
SAMPLE_QUERIES = {
    "orders_by_status": """
        SELECT status, COUNT(*) AS order_count,
               ROUND(SUM(total_invoice), 2) AS total_revenue
        FROM silver_supply_orders GROUP BY status ORDER BY order_count DESC
    """,
    "top_products_by_revenue": """
        SELECT p.product_name_clean AS product_name,
               ROUND(SUM(o.total_invoice), 2) AS revenue
        FROM silver_supply_orders o
        JOIN silver_products p ON o.product_id = p.product_id
        GROUP BY 1 ORDER BY revenue DESC LIMIT 10
    """,
    "monthly_order_volume": """
        SELECT date_format(date_trunc('month', order_date), 'yyyy-MM') AS month,
               COUNT(*) AS orders, SUM(quantity) AS units
        FROM silver_supply_orders GROUP BY 1 ORDER BY 1
    """,
    "warehouse_utilization": """
        SELECT w.warehouse_name_clean AS warehouse, w.region_clean AS region,
               SUM(i.quantity_on_hand) AS stock,
               w.storage_capacity_clean AS capacity
        FROM silver_inventory i
        JOIN silver_warehouses w ON i.warehouse_id = w.warehouse_id
        GROUP BY 1, 2, 4 ORDER BY stock DESC
    """,
}
