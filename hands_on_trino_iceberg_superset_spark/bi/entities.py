"""BI metadata entities (SURVEY.md §2.6 M3-M6).

Restates the reference's Superset bootstrap objects (its
``compose/superset/init_db.py``) without the Superset runtime:
``Database`` is the named engine connection (init_db.py:8-18),
``Dataset`` the ``SqlaTable`` (init_db.py:29-35,73-88) with live column
introspection, ``Chart`` the ``Slice`` storing form_data
(init_db.py:102-175), ``Dashboard`` the position-JSON grid composition
(init_db.py:208-329). Only ``Chart.run()`` has query semantics — it
compiles the form_data to SQL text (:func:`form_data_to_sql`, what
Superset sends over the wire) and runs it over the dataset's frame
through :func:`compile_form_data`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame

from hands_on_trino_iceberg_superset_spark.bi.compiler import compile_form_data
from hands_on_trino_iceberg_superset_spark.engine import ColumnInfo, Engine


@dataclass
class Database:
    """Named engine connection — the reference's
    ``Database(database_name="Trino (Iceberg)", sqlalchemy_uri=...)``."""

    name: str
    engine: Engine

    def dataset(self, table_name: str, schema: str | None = None,
                description: str = "", sql: str | None = None,
                ) -> "Dataset":
        return Dataset(
            database=self,
            schema=schema or self.engine.default_schema,
            table_name=table_name,
            description=description,
            sql=sql,
        )


@dataclass
class Dataset:
    """``SqlaTable``: (database, schema, table_name) + column metadata
    fetched live from the engine (``fetch_metadata`` equivalent).

    ``sql`` makes it a VIRTUAL dataset — Superset's SQL-defined
    ``SqlaTable`` (the ``sql`` column of the same model; the
    reference's init_db.py seeds physical tables only, but virtual
    datasets are the most-used Superset feature beyond them): the
    frame is the defining query executed through the engine (full
    engine SQL surface — views, time travel, versioned tables), and
    metadata introspects the query's result schema. ``table_name``
    stays the dataset's display identity either way."""

    database: Database
    schema: str
    table_name: str
    description: str = ""
    sql: str | None = None

    @property
    def qualified_name(self) -> str:
        return f"{self.schema}.{self.table_name}"

    @property
    def is_virtual(self) -> bool:
        return self.sql is not None

    def df(self) -> DataFrame:
        if self.sql is not None:
            return self.database.engine.sql(self.sql)
        return self.database.engine.table(self.qualified_name)

    def fetch_metadata(self) -> list[ColumnInfo]:
        """init_db.py:63-67 — ``inspector.get_columns`` shaped; a
        virtual dataset introspects its defining query's schema (no
        execution: the analyzed plan alone carries it)."""
        if self.sql is not None:
            return [
                ColumnInfo(name=f.name,
                           type=f.dataType.simpleString(),
                           nullable=f.nullable)
                for f in self.df().schema.fields
            ]
        return self.database.engine.columns(self.qualified_name)


@dataclass
class Chart:
    """``Slice``: a name + viz_type + form_data blob; compiled to SQL
    text and run as a DataFrame on demand (the reference compiles to
    SQL at view time, §3.2 step 3)."""

    name: str
    dataset: Dataset
    form_data: Mapping[str, Any]
    viz_type: str = "table"

    def run(self) -> DataFrame:
        return compile_form_data(self.dataset.df(), self.form_data)


@dataclass
class Dashboard:
    """Metadata-only grid of charts: 2 per row, width 6, height 50 —
    the exact layout constants of init_db.py:273-307."""

    title: str
    charts: list[Chart] = field(default_factory=list)
    charts_per_row: int = 2
    chart_width: int = 6
    chart_height: int = 50

    def position_json(self) -> dict[str, Any]:
        """Reference-shaped position blob (init_db.py:273-307)."""
        pos: dict[str, Any] = {
            "DASHBOARD_VERSION_KEY": "v2",
            # ROOT_ID anchors the layout tree — every chart's parents
            # chain references it, and Superset's importer walks it;
            # omitting it leaves a dangling root
            "ROOT_ID": {
                "type": "ROOT", "id": "ROOT_ID",
                "children": ["GRID_ID"],
            },
            "GRID_ID": {
                "type": "GRID", "id": "GRID_ID", "children": [],
                "parents": ["ROOT_ID"],
            },
            "HEADER_ID": {
                "type": "HEADER",
                "id": "HEADER_ID",
                "meta": {"text": self.title},
            },
        }
        row_ids: list[str] = []
        for i in range(0, len(self.charts), self.charts_per_row):
            row_id = f"ROW-{i // self.charts_per_row}"
            chart_ids = []
            for j, chart in enumerate(self.charts[i : i + self.charts_per_row]):
                cid = f"CHART-{i + j}"
                pos[cid] = {
                    "type": "CHART",
                    "id": cid,
                    "children": [],
                    "meta": {
                        "chartName": chart.name,
                        "width": self.chart_width,
                        "height": self.chart_height,
                    },
                    "parents": ["ROOT_ID", "GRID_ID", row_id],
                }
                chart_ids.append(cid)
            pos[row_id] = {
                "type": "ROW",
                "id": row_id,
                "children": chart_ids,
                "meta": {"background": "BACKGROUND_TRANSPARENT"},
            }
            row_ids.append(row_id)
        pos["GRID_ID"]["children"] = row_ids
        return pos


def reference_dashboard(engine: Engine) -> Dashboard:
    """The reference's exact bootstrap: 5 datasets over the seeded
    tables, 5 raw-mode table charts with its preferred columns
    (init_db.py:187-193), one 2-per-row dashboard."""
    db = Database(name="Spark (Parquet)", engine=engine)
    preferred = {
        "events": ["id", "ts", "event_type", "user_id", "amount"],
        "users": ["user_id", "username", "email", "country", "active"],
        "orders": ["order_id", "user_id", "product_id", "quantity", "price",
                   "status"],
        "products": ["product_id", "name", "category", "price", "stock"],
        "transactions": ["transaction_id", "user_id", "amount", "currency",
                         "transaction_type", "status"],
    }
    charts = []
    for table, cols in preferred.items():
        ds = db.dataset(table)
        charts.append(
            Chart(
                name=f"{table.title()} Table",
                dataset=ds,
                form_data={
                    "viz_type": "table",
                    "query_mode": "raw",
                    "all_columns": cols,
                    "groupby": [],
                    "metrics": ["count"],
                    "time_range": "No filter",
                    "row_limit": 100,
                    "order_by": [],
                },
            )
        )
    return Dashboard(title="Demo Dashboard", charts=charts)
