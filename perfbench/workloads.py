"""The benchmark's workloads: what one operation is and how its output
is checked.

- ``QueryWorkload`` runs registry queries. One operation builds a
  query's DataFrame and executes it into Spark's ``noop`` sink; the
  check collects it and compares with the query's DuckDB oracle.
- ``MedallionWorkload`` runs the reference job. One operation is one
  ``pipeline.run_medallion`` into a fresh work directory; the check
  compares the served rows with DuckDB running the same SQL over the
  landing JSON.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

# The query workload's operations: registry queries with DuckDB oracles.
# TPC-H: a selective scan-aggregate (q6) and a five-way join (q9).
# LLM-data curation: embedding near-dups (``llm.similarity``), BPE
# tokenising (``functions``), multimodal decode (Python workers), KMV
# sketches (``operators``) and the streaming dual of batch curation
# (``streaming``).
QUERY_MIX = (
    "q6_forecast_revenue",
    "q9_product_profit",
    "neardup_embedding_cosine",
    "bpe_encode_tokens",
    "multimodal_image_decode",
    "sketch_kmv_jaccard",
    "stream_curation_manifest",
)

# The medallion job's curation step: a full-volume projection, cast and
# filter over the temp view. Written in SQL both engines accept, so the
# oracle can run it unchanged over the landing JSON.
MEDALLION_SQL = (
    "SELECT ident, type, name, CAST(elevation_ft AS DOUBLE) * 0.3048 AS elevation_m, "
    "continent, iso_country, iso_region, upper(municipality) AS municipality, "
    "gps_code, iata_code, local_code, coordinates FROM {view} WHERE type <> 'closed'"
)


class QueryWorkload:
    def __init__(self, names: tuple[str, ...], specs: dict, data_dir: str):
        self.names = names
        self.specs = {n: specs[n] for n in names}
        self.data_dir = data_dir
        self._duck = None

    def run(self, spark, name: str, tracer=None) -> None:
        fn = self.specs[name].fn
        if tracer is None:
            df = fn(spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return
        df = tracer.call("queries.build", "queries", fn, spark, self.data_dir)
        tracer.call("plan", "plan", lambda: df._jdf.queryExecution().executedPlan())
        tracer.call(
            "exec", "exec", lambda: df.write.format("noop").mode("overwrite").save()
        )

    def check(self, spark, name: str) -> list[str]:
        from verify_local import compare, duck_connection

        if self._duck is None:
            self._duck = duck_connection(self.data_dir)
        spec = self.specs[name]
        return compare(name, spec.fn(spark, self.data_dir), self._duck, spec.oracle)

    def written(self) -> tuple[int, int]:
        return 0, 0

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class MedallionWorkload:
    names = ("run_medallion",)

    def __init__(self, landing: list[str], rows: int, work_dir: str):
        self.landing = landing
        self.rows = rows
        self.work_dir = work_dir
        self.landing_bytes = sum(os.path.getsize(p) for p in landing)
        self.curated_format = None
        self._n = 0
        self._written = (0, 0)

    def _pipeline(self, spark, workdir: str):
        from gcp_etl_spark.pipeline import run_medallion

        return run_medallion(
            spark,
            self.landing,
            workdir,
            query=MEDALLION_SQL.format(view="df"),
        )

    def run(self, spark, name: str, tracer=None, keep: bool = False) -> None:
        self._n += 1
        workdir = os.path.join(self.work_dir, f"op-{self._n}")
        if tracer is None:
            res = self._pipeline(spark, workdir)
        else:
            res = tracer.call("exec", "exec", self._pipeline, spark, workdir)
        self._written = _tree_size(workdir)
        if not keep:
            shutil.rmtree(workdir, ignore_errors=True)
        self.curated_format = res.curated_format
        if res.landing_count != self.rows:
            raise ValueError(
                f"landing_count {res.landing_count} != {self.rows} rows generated"
            )
        self.last_workdir = workdir

    def check(self, spark, name: str) -> list[str]:
        import duckdb
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.run(spark, name, keep=True)
        workdir = self.last_workdir
        try:
            served = pq.read_table(os.path.join(workdir, "serving"))
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        files = ", ".join(f"'{p}'" for p in self.landing)
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            expect = con.sql(
                MEDALLION_SQL.format(view=f"read_json([{files}])")
            ).arrow()
        finally:
            con.close()
        if hasattr(expect, "read_all"):
            expect = expect.read_all()
        if sorted(served.column_names) != sorted(expect.column_names):
            return [f"columns: {served.column_names} != {expect.column_names}"]
        if served.num_rows != expect.num_rows:
            return [f"served rows {served.num_rows} != oracle {expect.num_rows}"]
        served = served.sort_by("ident")
        expect = expect.sort_by("ident")
        errs = []
        for col in served.column_names:
            a, b = served[col], expect[col]
            if col == "elevation_m":
                x = pc.fill_null(a, np.nan).to_numpy()
                y = pc.fill_null(b.cast(a.type), np.nan).to_numpy()
                ok = np.allclose(x, y, rtol=1e-9, atol=0.0, equal_nan=True)
            else:
                ok = a.equals(b.cast(a.type))
            if not ok:
                errs.append(f"column {col} differs from oracle")
        return errs

    def written(self) -> tuple[int, int]:
        """(bytes, files) the last operation wrote across all zones."""
        return self._written

    def close(self) -> None:
        pass


def _tree_size(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
