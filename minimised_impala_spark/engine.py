"""Engine facade — the user-facing entry points.

Reproduces the reference's three entry points (SURVEY §3): an interactive
shell (shell.py), this programmatic ``Engine.sql()`` / DataFrame API, and
DDL against the session catalog. The whole impalad/catalogd/statestored
fabric (be/src/service/impala-server.cc, be/src/catalog/catalog-server.cc,
be/src/statestore/statestore.cc) collapses into one SparkSession.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from minimised_impala_spark import dialect
from minimised_impala_spark.functions.parity import register_sql_functions
from minimised_impala_spark.session import build_session
from minimised_impala_spark.tables import register_tables


class Engine:
    """A SQL session speaking the reference's dialect over Spark.

    >>> eng = Engine.local()
    >>> eng.load_fixture_tables("/root/testdata/sf0.001")
    >>> eng.sql("SELECT count(*) FROM lineitem").show()

    The dialect's SQL functions are registered once per session: a second
    ``Engine`` on the same session issues no statement, and one on a
    ``newSession()`` sibling registers its own. A session built outside
    ``build_session`` keeps Spark's default whole-stage-codegen cache (100
    classes, smaller than this engine's working set), because that conf
    is static and cannot be changed once the session exists.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._data_sources: dict[str, dict] = {}
        register_sql_functions(spark)

    @classmethod
    def local(cls, cpus: int = 4, **conf: str) -> "Engine":
        return cls(
            build_session(
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf=dict(conf) or None,
            )
        )

    def load_fixture_tables(self, sf_dir: str) -> None:
        register_tables(self.spark, sf_dir)

    def sql(self, text: str) -> DataFrame:
        """Execute one statement in the reference dialect."""
        load = dialect.parse_load_data(text)
        if load is not None:
            return self._load_data(**load)
        ds = dialect.parse_data_source_ddl(text)
        if ds is not None:
            return self._data_source_ddl(ds)
        stats = dialect.parse_show_stats(text)
        if stats is not None:
            if stats["kind"] == "table":
                return self._show_table_stats(stats["table"])
            return self._show_column_stats(stats["table"])
        files = dialect.parse_show_files(text)
        if files is not None:
            return self._show_files(files["table"])
        like = dialect.parse_create_like_file(text)
        if like is not None:
            return self._create_like_file(**like)
        translated = dialect.translate(text)
        if dialect.has_straight_join(text):
            # STRAIGHT_JOIN pins the join order as written
            # (fe/.../planner/SingleNodePlanner.java:422 invertJoin is
            # skipped): disable Catalyst's reorder for this statement only.
            prev = self.spark.conf.get("spark.sql.cbo.joinReorder.enabled", "true")
            self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
            try:
                df = self.spark.sql(translated)
                # Catalyst optimizes lazily at the first action — by which
                # time the finally below has restored the conf and
                # CostBasedJoinReorder would reorder anyway. Force the
                # optimized plan NOW, while reorder is still disabled.
                df._jdf.queryExecution().optimizedPlan()
                return df
            finally:
                self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev)
        return self.spark.sql(translated)

    def _create_like_file(
        self, table: str, path: str, fmt: str, if_not_exists: bool
    ) -> DataFrame:
        """CREATE TABLE LIKE PARQUET '<file>': infer the schema from the
        parquet footer (the reference reads the file's parquet schema —
        CreateTableLikeFileStmt.java) and create an empty table with it."""
        if if_not_exists and self.spark.catalog.tableExists(table):
            return self.spark.sql(f"SELECT 'Table {table} already exists' AS summary")
        schema = self.spark.read.parquet(path).schema
        self.spark.catalog.createTable(table, source=fmt, schema=schema)
        return self.spark.sql(f"SELECT 'Created {table}' AS summary")

    def _load_data(
        self, path: str, table: str, overwrite: bool, partition: dict[str, str]
    ) -> DataFrame:
        """LOAD DATA INPATH (fe/.../analysis/LoadDataStmt.java): ingest the
        files at ``path`` into ``table``. Static PARTITION values become
        constant columns. Returns a one-row summary like the reference's
        'Loaded ...' result set."""
        from pyspark.sql import functions as F

        import os

        fmt = "parquet"
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if r["col_name"].strip().lower() == "provider":
                fmt = r["data_type"].strip().lower()
        df = self.spark.read.format(fmt).load(path)
        for k, v in partition.items():
            df = df.withColumn(k, F.lit(v))
        cols = [f.name for f in self.spark.table(table).schema.fields]
        df = df.select(*cols)
        # summary from the driver-side file listing (the reference reports
        # 'Loaded N file(s)' the same way) — no extra scan of the data
        n_files = sum(
            1
            for dp, _, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", "."))
        )
        if overwrite and partition:
            # OVERWRITE into a static partition must replace ONLY that
            # partition (LoadDataStmt semantics); Spark's default
            # partitionOverwriteMode=static would truncate the whole table.
            conf = "spark.sql.sources.partitionOverwriteMode"
            prev = self.spark.conf.get(conf, "static")
            self.spark.conf.set(conf, "dynamic")
            try:
                df.write.mode("overwrite").insertInto(table, True)
            finally:
                self.spark.conf.set(conf, prev)
        else:
            df.write.mode("overwrite" if overwrite else "append").insertInto(
                table, overwrite
            )
        return self.spark.sql(f"SELECT 'Loaded {n_files} file(s) into {table}' AS summary")

    def _data_source_ddl(self, ds: dict) -> DataFrame:
        """ext-data-source catalog verbs (CreateDataSrcStmt.java /
        DropDataSourceStmt / ShowDataSrcsStmt): the catalog records
        (name, location, class, api_version); when the class resolves to
        an importable Spark Python DataSource, CREATE also registers it
        with the session so ``spark.read.format(name)`` works
        immediately — the analogue of the reference's executor-side
        ExternalDataSourceExecutor binding the jar at scan time."""
        reg = self._data_sources
        if ds["op"] == "create":
            if ds["name"] in reg and not ds["if_not_exists"]:
                raise ValueError(f"data source {ds['name']} already exists")
            if ds["name"] not in reg:
                reg[ds["name"]] = {
                    "location": ds["location"],
                    "class": ds["class_name"],
                    "api_version": ds["api_version"],
                }
                cls = self._resolve_python_data_source(ds["class_name"])
                if cls is not None:
                    self.spark.dataSource.register(cls)
            return self.spark.sql(
                f"SELECT 'Data source {ds['name']} created' AS summary"
            )
        if ds["op"] == "drop":
            if ds["name"] not in reg and not ds["if_exists"]:
                raise ValueError(f"data source {ds['name']} does not exist")
            reg.pop(ds["name"], None)
            return self.spark.sql(
                f"SELECT 'Data source {ds['name']} dropped' AS summary"
            )
        rows = [
            (n, m["location"], m["class"], m["api_version"])
            for n, m in sorted(reg.items())
            if ds["pattern"] is None
            or __import__("fnmatch").fnmatch(n, ds["pattern"])
        ]
        return self.spark.createDataFrame(
            rows or [],
            "name string, location string, class string, api_version string",
        )

    @staticmethod
    def _resolve_python_data_source(class_name: str):
        """'module.Class' → the class if importable and a Spark Python
        DataSource subclass, else None (metadata-only registration)."""
        import importlib

        from pyspark.sql.datasource import DataSource as _DS

        mod, _, cls = class_name.rpartition(".")
        if not mod:
            return None
        try:
            obj = getattr(importlib.import_module(mod), cls, None)
        except ImportError:
            return None
        return obj if isinstance(obj, type) and issubclass(obj, _DS) else None

    def _table_info(self, table: str) -> dict[str, str]:
        return {
            r["col_name"].strip(): (r["data_type"] or "").strip()
            for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }

    def _show_table_stats(self, table: str) -> DataFrame:
        """SHOW TABLE STATS (fe/.../analysis/ShowStatsStmt.java): one row
        of (num_rows, size_bytes, location). Like the reference, counts
        are -1 until COMPUTE STATS has populated the catalog."""
        import re as _re

        info = self._table_info(table)
        stats = info.get("Statistics", "")
        m = _re.search(r"(\d+)\s+bytes", stats)
        size = int(m.group(1)) if m else -1
        m = _re.search(r"(\d+)\s+rows", stats)
        rows = int(m.group(1)) if m else -1
        return self.spark.createDataFrame(
            [(rows, size, info.get("Location", ""))],
            "num_rows bigint, size_bytes bigint, location string",
        )

    def _show_column_stats(self, table: str) -> DataFrame:
        """SHOW COLUMN STATS: per-column (type, ndv, num_nulls, max_size),
        -1 where COMPUTE STATS hasn't filled the catalog — the reference's
        pre-stats display."""
        rows = []
        for f in self.spark.table(table).schema.fields:
            kv = {
                r["info_name"]: r["info_value"]
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {table} {f.name}"
                ).collect()
            }

            def _i(key: str) -> int:
                v = kv.get(key, "NULL")
                return int(v) if v is not None and v.lstrip("-").isdigit() else -1

            rows.append(
                (
                    f.name,
                    f.dataType.simpleString(),
                    _i("distinct_count"),
                    _i("num_nulls"),
                    _i("max_col_len"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "column string, type string, ndv bigint, num_nulls bigint, "
            "max_size bigint",
        )

    def _show_files(self, table: str) -> DataFrame:
        """SHOW FILES IN t (fe/.../analysis/ShowFilesStmt.java): the data
        files backing the table — (path, size_bytes), driver-side listing
        of the table location, no data scan."""
        import os

        loc = self._table_info(table).get("Location", "")
        root = loc.removeprefix("file:")
        out = []
        for dp, _, fs in os.walk(root):
            for f in sorted(fs):
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(dp, f)
                out.append((full, os.path.getsize(full)))
        return self.spark.createDataFrame(
            sorted(out), "path string, size_bytes bigint"
        )

    def sql_async(self, text: str) -> "QueryHandle":
        """Submit a statement for background execution with a cancellable
        handle — the reference's in-flight query registry + cancel RPC
        (be/src/service/impala-server.cc:999 CancelInternal; the shell's
        Ctrl-C path, shell/impala_shell.py:404). Spark-first mapping: the
        collect runs under a per-query job group and ``cancel()`` is
        ``SparkContext.cancelJobGroup`` — all of the query's jobs/stages
        on every executor are interrupted, exactly the coordinator-fanout
        teardown the reference implements by hand."""
        import threading
        import uuid as _uuid

        handle = QueryHandle(self, _uuid.uuid4().hex)

        def run() -> None:
            # Job-group scope is thread-local in Spark: set it on the
            # runner thread so only this query's jobs join the group.
            self.spark.sparkContext.setJobGroup(
                handle.query_id, text, interruptOnCancel=True
            )
            try:
                handle._rows = self.sql(text).collect()
            except Exception as exc:  # cancelled or failed — surface it
                handle._error = exc
            finally:
                self.spark.sparkContext.setJobGroup("", "")

        handle._thread = threading.Thread(target=run, daemon=True)
        handle._thread.start()
        return handle

    def explain(self, text: str, level: int | None = None) -> str:
        """EXPLAIN at the reference's detail levels (SET EXPLAIN_LEVEL 0-3;
        functional-query explain-level0..3.test). Spark-mode mapping:
        0/1 → 'simple' (the standard plan outline), 2 → 'formatted'
        (per-node detail sections, the reference's extended view),
        3 → 'extended' (all plan phases, the verbose per-fragment dump).
        ``level`` defaults to the session's SET EXPLAIN_LEVEL (1 unset)."""
        if level is None:
            raw = "1"
            for key in ("EXPLAIN_LEVEL", "explain_level"):
                try:
                    raw = self.spark.conf.get(key)
                    break
                except Exception:  # noqa: BLE001 — unset key
                    continue
            try:
                # Some PySpark variants return None (not raise) for an
                # unset key — int(None) is TypeError, not ValueError.
                level = int(raw) if raw is not None else 1
            except (TypeError, ValueError):
                level = 1
        mode = {0: "simple", 1: "simple", 2: "formatted"}.get(level, "extended")
        df = self.sql(text)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), mode
        )

    def profile(self, text: str) -> str:
        """Execute the statement and render the per-operator runtime
        profile — the reference's post-query PROFILE output
        (be/src/util/runtime-profile.cc; impala-shell `profile;`). The tree
        is the FINAL adaptive plan with each operator's SQL metrics (rows,
        scan/agg time, shuffle bytes, peak memory), pulled from the
        executed plan's metric registry."""
        df = self.sql(text)
        df.collect()
        return render_profile(df)


class QueryHandle:
    """In-flight query handle: ``result()`` / ``cancel()`` / ``running()``.

    Mirrors the reference's query-id handle returned to clients
    (be/src/service/impala-server.h:374; the shell retries cancel_query on
    it, shell/impala_shell.py:408). Cancellation is cooperative at the
    Spark level: cancelJobGroup interrupts the query's running stages and
    the collect fails with a cancellation error.
    """

    def __init__(self, engine: Engine, query_id: str):
        self._engine = engine
        self.query_id = query_id
        self._thread = None
        self._rows = None
        self._error: Exception | None = None
        self._cancelled = False

    def running(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

    def cancel(self) -> None:
        """Cancel every job in this query's group (idempotent, like the
        reference's CancelInternal on an already-done query)."""
        self._cancelled = True
        self._engine.spark.sparkContext.cancelJobGroup(self.query_id)

    def result(self, timeout: float | None = None):
        """Block for the rows; raises QueryCancelledError if cancelled,
        or the original execution error."""
        assert self._thread is not None
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError(f"query {self.query_id} still running")
        if self._error is not None:
            if self._cancelled:
                raise QueryCancelledError(self.query_id) from self._error
            raise self._error
        return self._rows


class QueryCancelledError(RuntimeError):
    """The reference's 'Cancelled' query state (impala-server.cc:999)."""

    def __init__(self, query_id: str):
        super().__init__(f"query {query_id} was cancelled")
        self.query_id = query_id


def render_profile(df: DataFrame) -> str:
    """Per-operator metrics tree of an ALREADY-EXECUTED DataFrame."""
    lines: list[str] = []

    def walk(node, depth: int) -> None:
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        ms = []
        while it.hasNext():
            kv = it.next()
            ms.append((kv._1(), kv._2().value()))
        shown = ", ".join(f"{k}={v}" for k, v in sorted(ms))
        lines.append("  " * depth + node.nodeName() + (f"  [{shown}]" if shown else ""))
        # adaptive wrappers: descend into the materialized subtree
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), depth + 1)
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan(), depth + 1)
            return
        if cls == "ReusedExchangeExec":
            walk(node.child(), depth + 1)
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return "\n".join(lines)
