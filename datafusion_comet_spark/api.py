"""Public facade — the one import a user needs.

The reference is consumed as a Spark plugin: install the jar, set
``spark.plugins=org.apache.spark.CometPlugin``, and keep writing
Spark SQL (reference: README.md:38-47, docs/source/user-guide/latest/
installation.md).  The single-engine analogue is this ``Engine``
class: construct it (tuned session + registered tables) and keep
writing Spark SQL — every capability in the inventory is reachable
through ``sql()`` / ``table()`` exactly as it would be through the
reference-accelerated session.

    from datafusion_comet_spark.api import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.1")
    df = eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1")
    eng.explain(df)                     # physical plan, formatted
    eng.run("q1_pricing_summary")       # any inventory query by name
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, TABLES, load_tables
from .plans import plan_string
from .queries import load_all
from .session import get_session


class Engine:
    """Tuned session + registered star schema + the query inventory.

    ``session.DEFAULT_CONF`` applies only when the engine builds the
    session.  A session passed in as ``Engine(spark=...)`` keeps its own
    settings, and its static confs cannot change once it exists: unless
    its builder set one, it keeps Spark's codegen cache of 100 classes.
    """

    def __init__(
        self,
        sf_dir: str = DEFAULT_SF_DIR,
        app_name: str = "datafusion-comet-spark",
        master: str | None = None,
        extra_conf: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ):
        self.sf_dir = sf_dir
        self.spark = spark or get_session(
            app_name=app_name, master=master, extra_conf=extra_conf
        )
        # register every star-schema table as a temp view so SQL works
        # immediately; DataFrames remain reachable via table()
        self._tables = load_tables(self.spark, sf_dir, register_views=True)
        self._registry = load_all()

    # -- the two calls a reference user already makes -------------------
    def sql(self, query: str, **kwargs) -> DataFrame:
        return self.spark.sql(query, **kwargs)

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            return self.spark.table(name)
        return getattr(self._tables, name)

    # -- inventory access ----------------------------------------------
    def queries(self) -> list[str]:
        """Names of every declared capability query (SURVEY.md §2)."""
        return sorted(self._registry)

    def run(self, name: str) -> DataFrame:
        """Run an inventory query against this engine's sf_dir."""
        return self._registry[name].fn(self.spark, self.sf_dir)

    def oracle(self, name: str) -> str | None:
        """The DuckDB oracle SQL for a query (None if non-SQL-expressible)."""
        return self._registry[name].oracle

    # -- introspection --------------------------------------------------
    def explain(self, df: DataFrame, mode: str = "formatted") -> str:
        return plan_string(df, mode)

    def stop(self) -> None:
        self.spark.stop()
