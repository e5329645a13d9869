"""The benchmark's workloads.

A workload makes its inputs from the seed before Spark starts
(``make_inputs``), binds them to the session (``prepare``), then runs
passes: one pass calls every op of the workload once, in order, from
one driver thread. ``run_pass`` times each op; with a ``Tracer`` it also splits
each op at the layer boundaries into spans; with ``check=True`` it
keeps what the op returned so that ``verify`` can compare it with an
answer the program did not compute.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import datagen
import oracle

# both leave persisted RDDs behind (1 and 3)
CORPUS_OPS = ["dedup_simhash", "ann_pq_trained_topk"]
LAKE_OPS = [
    "extract_stage", "compile", "warehouse_merge", "cdf_drain",
    "transform", "pruned_read", "reconcile",
]


def persisted_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _after_op(spark, rec: dict) -> None:
    rec["persisted_rdds_after"] = len(persisted_rdds(spark))
    rec["cached_bytes_after"] = cached_bytes(spark)


class RegistryWorkload:
    """Registry queries ``(spark, data_dir) -> DataFrame``. Every pass
    collects each result to the driver, so the checked warm-up pass runs
    the same code path as the timed passes; the results of the warm-up
    pass are compared with the DuckDB oracle."""

    def __init__(self, name: str, ops: list[str], why: str):
        self.name, self.ops, self.why = name, ops, why
        self._results: dict = {}

    def make_inputs(self, scratch: str, data_dir: str, seed: int, scale: dict) -> dict:
        """The registry tables are already in ``data_dir``."""
        self.data_dir = data_dir
        return {}

    def prepare(self, spark) -> None:
        from luma_etl_data_platform_spark import api
        queries = api.all_queries()
        self._fns = {op: queries[op] for op in self.ops}
        self._oracles = api.all_oracles()

    def run_pass(self, spark, tr=None, check: bool = False) -> list[tuple]:
        out = []
        for op in self.ops:
            fn = self._fns[op]
            err = None
            t0 = time.perf_counter()
            try:
                if tr is None:
                    result = fn(spark, self.data_dir).toPandas()
                else:
                    with tr.span(op, op=op) as rec:
                        with tr.span(f"{op}/build", jobs=True, layer="plans", phase="build"):
                            df = fn(spark, self.data_dir)
                        with tr.span(f"{op}/plan", layer="engine", phase="plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tr.span(f"{op}/exec", jobs=True, layer="engine", phase="exec"):
                            result = df.toPandas()
                if check:
                    self._results[op] = result
            except Exception as e:   # an op failure is counted, not fatal
                err = f"{type(e).__name__}: {e}"[:300]
            lat = time.perf_counter() - t0
            if tr is not None and err is None:
                _after_op(spark, rec)
            out.append((op, lat, err))
        return out

    def verify(self) -> dict[str, str | None]:
        """Oracle mismatches of the kept results; an op that raised has
        no result and was already counted as failed."""
        con = oracle.connect(self.data_dir)
        try:
            return {op: oracle.compare(got, con.execute(self._oracles[op]).fetchdf())
                    for op, got in self._results.items()}
        finally:
            con.close()


class LakeExtractWorkload:
    """The paper's spine on a seeded in-memory lake: REST-lake extract
    -> drift-tagged ingest -> staged parquet -> merged compile with
    amount repair -> warehouse MERGE into a log table -> change-feed
    drain -> transform SQL -> pruned read -> count reconciliation."""

    name = "lake_extract"
    ops = LAKE_OPS
    why = ("the paper's extract-stage-merge-transform spine; the only workload "
           "that reaches sources.rest_lake, schema_registry, pipeline and "
           "the lakehouse MERGE and change feed")

    _TRANSFORM = """
        DROP TABLE IF EXISTS {{warehouse}};
        CREATE TABLE {{warehouse}} USING parquet AS
        SELECT Account, AccountingEntity,
               count(*) AS n_rows,
               CAST(round(sum(CAST(Amount AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_amount
        FROM {{staging}}
        GROUP BY Account, AccountingEntity
    """

    def __init__(self):
        self._pass = 0
        self._check: dict = {}

    def make_inputs(self, scratch: str, data_dir: str, seed: int, scale: dict) -> dict:
        from luma_etl_data_platform_spark.sources.rest_lake import (
            FakeLakeTransport, transport_option)
        self.scratch = scratch
        records, self.expected = datagen.make_lake(scale["lake_records"], seed)
        self.lake = FakeLakeTransport(docs={datagen.LAKE_CLASS: records},
                                      n_chunks=scale["lake_chunks"],
                                      records_per_object=scale["lake_records_per_object"])
        self.lake.page_size = scale["lake_page_size"]
        self.transport = transport_option(self.lake)
        ids = sorted(r["RecId"] for r in records)
        # the pruned read asks for the lowest twentieth of the key range
        self.lo, self.hi = ids[0], ids[len(ids) // 20]
        self.expected["pruned_rows"] = len({i for i in ids if self.lo <= i <= self.hi})
        return {"lake_records": len(records),
                "base_records": self.expected["base"],
                "revisions": self.expected["updates"],
                "late_inserts": self.expected["inserts"],
                "transport_bytes": len(self.transport) * 3 // 4}

    def prepare(self, spark) -> None:
        from luma_etl_data_platform_spark.sources.rest_lake import RestLakeDataSource
        spark.dataSource.register(RestLakeDataSource)

    # -- the spine, one function per op -------------------------------------

    def _extract_stage(self, spark, st):
        from luma_etl_data_platform_spark import pipeline as P
        from luma_etl_data_platform_spark.schema_registry import SchemaRegistry
        raw = (spark.read.format("restlake").schema(datagen.LAKE_SCHEMA)
               .option("business_class", datagen.LAKE_CLASS)
               .option("transport_pickle", self.transport).load())
        st["registry"] = SchemaRegistry()
        tagged = P.ingest_records(raw, st["registry"])
        P.stage(tagged, st["staged"], batch_id=1)

    def _compile(self, spark, st):
        from luma_etl_data_platform_spark import pipeline as P
        from luma_etl_data_platform_spark.functions.cleansing import repair_amount
        st["merged"] = P.compile_merged(spark, st["staged"])
        st["staging"] = st["merged"].select(
            "RecId", "Revision", "Account", "AccountingEntity",
            F.col("FinanceCodeBlock_AccountingUnit").alias("AccountingUnit"),
            repair_amount(F.col("TransactionAmount")).alias("Amount"),
            F.col("PostingDate").try_cast("timestamp").alias("PostingDate"),
            "JournalCode")

    def _warehouse_merge(self, spark, st):
        from luma_etl_data_platform_spark.sources import lakehouse as LH
        base = st["staging"].filter("Revision = 0").repartitionByRange(4, "RecId")
        LH.create_table(spark, st["table"], base, ["RecId"])
        LH.merge_into(spark, st["table"], st["staging"].filter("Revision = 1"),
                      ["RecId"], update_set="all")

    def _cdf_drain(self, spark, st):
        from luma_etl_data_platform_spark.streaming.cdf import stream_changes
        counts = st["changes"] = {}

        def apply(changes, version):
            for r in changes.groupBy("_change_type").count().collect():
                counts[(version, r["_change_type"])] = r["count"]
        stream_changes(spark, st["table"], apply, st["ledger"], from_version=1)

    def _transform(self, spark, st):
        from luma_etl_data_platform_spark.plans import transform as TR
        from luma_etl_data_platform_spark.sources import lakehouse as LH
        LH.read_table(spark, st["table"]).createOrReplaceTempView("perfbench_staging")
        TR.run_script(spark, self._TRANSFORM, {"staging": "perfbench_staging",
                                               "warehouse": "perfbench_totals"})

    def _pruned_read(self, spark, st):
        from luma_etl_data_platform_spark.sources import lakehouse as LH
        df = LH.read_table_pruned(spark, st["table"], "RecId", self.lo, self.hi)
        st["pruned_rows"] = len(df.collect())
        st["pruned_df"] = df

    def _reconcile(self, spark, st):
        from luma_etl_data_platform_spark.operators.validate import reconcile_counts
        bc = f"dl_document_name eq '{datagen.LAKE_CLASS}'"
        expected = spark.createDataFrame(
            [(o.dl_id, o.dl_instance_count)
             for cf in self.lake.query_split(bc) for o in self.lake.list_objects(cf)],
            "dl_id string, dl_instance_count long")
        st["reconcile"] = reconcile_counts(st["merged"], expected)

    _LAYER = {"extract_stage": "sources.rest_lake", "compile": "pipeline",
              "warehouse_merge": "sources.lakehouse", "cdf_drain": "streaming",
              "transform": "plans.transform", "pruned_read": "sources.lakehouse",
              "reconcile": "operators.validate"}

    def run_pass(self, spark, tr=None, check: bool = False) -> list[tuple]:
        self._pass += 1
        root = os.path.join(self.scratch, f"lake-pass-{self._pass}")
        st = {"staged": f"{root}/staged", "table": f"{root}/gl_table",
              "ledger": f"{root}/cdf_ledger"}
        out = []
        failed = False
        for op in self.ops:
            err = None
            t0 = time.perf_counter()
            try:
                if failed:
                    raise RuntimeError("an earlier stage of this pass failed")
                if tr is None:
                    getattr(self, f"_{op}")(spark, st)
                else:
                    with tr.span(op, op=op, jobs=True, layer=self._LAYER[op]) as rec:
                        getattr(self, f"_{op}")(spark, st)
                err = self._stage_error(op, st)
            except Exception as e:   # an op failure is counted, not fatal
                err = f"{type(e).__name__}: {e}"[:300]
            lat = time.perf_counter() - t0
            failed = failed or err is not None
            if tr is not None and err is None:
                _after_op(spark, rec)
                self._trace_layer(spark, op, st, rec)
            out.append((op, lat, err))
        if check and not failed:
            self._check = self._final_state(spark, st)
        spark.sql("DROP TABLE IF EXISTS perfbench_totals")
        spark.catalog.dropTempView("perfbench_staging")
        shutil.rmtree(root, ignore_errors=True)
        return out

    def _stage_error(self, op: str, st: dict) -> str | None:
        """Checks that need no extra Spark job, made on every pass."""
        exp = self.expected
        if op == "cdf_drain":
            want = {(1, "insert"): exp["base"],
                    (2, "update_preimage"): exp["updates"],
                    (2, "update_postimage"): exp["updates"],
                    (2, "insert"): exp["inserts"]}
            if st["changes"] != want:
                return f"change feed {st['changes']} != {want}"
        if op == "pruned_read" and st["pruned_rows"] != exp["pruned_rows"]:
            return f"pruned read {st['pruned_rows']} rows != {exp['pruned_rows']}"
        if op == "reconcile":
            rc = st["reconcile"]
            if not rc.ok or rc.expected != exp["total_records"]:
                return f"reconcile {rc} (lake holds {exp['total_records']})"
        if op == "extract_stage":
            got = len(st["registry"].versions) - 1     # minus the empty sentinel
            if got != exp["key_sets"]:
                return f"{got} schema versions != {exp['key_sets']} key-sets"
        return None

    def _trace_layer(self, spark, op: str, st: dict, rec: dict) -> None:
        if op == "extract_stage":
            rec["transport_bytes"] = len(self.transport) * 3 // 4
            rec["schema_versions"] = len(st["registry"].versions) - 1
        elif op == "warehouse_merge":
            data = log = size = 0
            for d, _, files in os.walk(st["table"]):
                in_log = os.path.relpath(d, st["table"]).split(os.sep)[0] == "_log"
                for f in files:
                    size += os.path.getsize(os.path.join(d, f))
                    if in_log:
                        log += 1
                    elif f.endswith(".parquet"):
                        data += 1
            rec.update(files_written=data, log_files=log, bytes_on_disk=size)
        elif op == "pruned_read":
            from luma_etl_data_platform_spark import orchestration
            from luma_etl_data_platform_spark.sources import lakehouse as LH
            read = sum(m["metrics"].get("numFiles", 0)
                       for m in orchestration.plan_metrics(st["pruned_df"], ("numFiles",)))
            rec["files_read"] = read
            rec["files_in_table"] = len(LH.snapshot_files(spark, st["table"]))

    def _final_state(self, spark, st: dict) -> dict:
        rows = spark.table("perfbench_totals").collect()
        return {(r["Account"], r["AccountingEntity"]): (r["n_rows"], r["total_amount"])
                for r in rows}

    def verify(self) -> dict[str, str | None]:
        """The warehouse totals of the checked pass against the
        generator's, charged to ``transform``; they also cover what
        compile and the MERGE produced. The other stages were checked
        inside every pass. A pass that failed left nothing to check and
        was already counted."""
        if not self._check:
            return {}
        return dict.fromkeys(self.ops, None) | {"transform": self._totals_error()}

    def _totals_error(self) -> str | None:
        want, got = self.expected["totals"], self._check
        if set(got) != set(want):
            return f"{len(got)} groups != {len(want)} expected"
        for k, (n, amount) in want.items():
            gn, gamount = got[k]
            if gn != n or abs(gamount - amount) > 0.005:
                return f"group {k}: ({gn}, {gamount}) != ({n}, {amount})"
        return None


def make(name: str):
    if name == "corpus_dedup":
        return RegistryWorkload(
            name, CORPUS_OPS,
            "operators at 500 documents and 500 vectors, bound by driver build "
            "and job count, not data: the persist lifecycle of the dedup and PQ "
            "indexes, a wide simhash expression tree, a driver-loop PQ trainer")
    if name == "lake_extract":
        return LakeExtractWorkload()
    raise KeyError(name)


NAMES = ("corpus_dedup", "lake_extract")
