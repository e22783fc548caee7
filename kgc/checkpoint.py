"""G8 — resumable stage checkpoints.

On a production cluster each pipeline stage lands as an Iceberg table;
a resume reads the last committed snapshot.  This module implements the
same contract over plain parquet + a JSON manifest so the architecture
(stage write → manifest commit → resume) is real and tested locally; the
Iceberg catalog is a configuration swap (`writeTo(...).append()`), not a
code change.

Commit protocol (in this order — the manifest IS the commit record):
delete old manifest → write parquet to ``<stage>.tmp`` → atomic rename
to ``<stage>`` → write manifest.  A crash anywhere before the final
manifest write leaves the stage UNcommitted (`exists()` is manifest AND
data), never a stale manifest pointing at missing/partial data —
mirroring Iceberg snapshot atomicity.  (Round 1 renamed before
deleting the old manifest, so a crash in that window kept a stale
manifest while the previously committed data was already gone;
ADVICE r1.)

Resume rule: a stage is reread when its manifest ``fingerprint`` (in
kgc.pipeline.run: the documents, the token limits and, from ``mentions``
on, the dictionary hash) matches the current inputs, and recomputed
otherwise — ``is_valid`` is that check, so a stage computed from
different input is never silently served stale (ADVICE r1).
"""

from __future__ import annotations

import json
import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession


class StageStore:
    def __init__(self, root: str | pathlib.Path):
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _dir(self, stage: str) -> pathlib.Path:
        return self.root / stage

    def _manifest(self, stage: str) -> pathlib.Path:
        return self.root / f"{stage}.manifest.json"

    def exists(self, stage: str) -> bool:
        return self._manifest(stage).exists() and self._dir(stage).exists()

    def write(self, df: DataFrame, stage: str, extra: dict | None = None) -> DataFrame:
        """Materialize a stage (overwrite), commit manifest, return reader.

        The old manifest is removed FIRST, so the stage reads as
        uncommitted during the whole rewrite; the new manifest (written
        last) is the commit point."""
        tmp = self.root / f"{stage}.tmp"
        final = self._dir(stage)
        if self._manifest(stage).exists():
            self._manifest(stage).unlink()
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        spark = df.sparkSession
        out = spark.read.parquet(str(final))
        manifest = {"stage": stage, "rows": out.count(), **(extra or {})}
        self._manifest(stage).write_text(json.dumps(manifest))
        return out

    def is_valid(self, stage: str, fingerprint: str | int | None = None) -> bool:
        """Committed AND (when a fingerprint is given) computed from the
        same input.  A missing fingerprint in an old manifest counts as
        a mismatch — recompute rather than risk serving stale output."""
        if not self.exists(stage):
            return False
        if fingerprint is None:
            return True
        return self.manifest(stage).get("fingerprint") == fingerprint

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(str(self._dir(stage)))

    def manifest(self, stage: str) -> dict:
        return json.loads(self._manifest(stage).read_text())

    def invalidate(self, stage: str) -> None:
        if self._manifest(stage).exists():
            self._manifest(stage).unlink()
        if self._dir(stage).exists():
            shutil.rmtree(self._dir(stage))

    # -------------------------------------------------- bucketed stages ---
    def _table_name(self, stage: str) -> str:
        import re

        return re.sub(r"[^A-Za-z0-9_]", "_", f"kgc_{self.root.name}_{stage}")

    def write_bucketed(
        self,
        df: DataFrame,
        stage: str,
        key: str = "doc_id",
        buckets: int = 32,
        extra: dict | None = None,
    ) -> DataFrame:
        """Materialize a stage as a bucketed+sorted table (r4) — the
        plain-Spark stand-in for an Iceberg bucket-partitioned table.

        Why at 100 TB: the pipeline joins its stages on doc_id over and
        over (segments ⨝ mentions ⨝ links ⨝ triples).  Stages stored
        bucketed by the SAME key into the SAME bucket count join with
        NO shuffle exchange and (being sortBy'd) no sort — the
        co-location is paid ONCE at write time instead of one full
        exchange of the bigger side per consuming query.  Bucketing
        metadata needs a table catalog, so this writes through
        ``saveAsTable`` with an explicit external path under the store
        root; the manifest records the bucket spec + schema DDL so a
        NEW session (in-memory catalog, no Hive) can re-register the
        table and keep the co-location (``read_bucketed``).  Same
        commit protocol as ``write``: manifest deleted first, written
        last — it IS the commit record.  Tested: the bucketed join
        plan contains zero shuffle exchanges
        (tests/test_link_canon.py::test_bucketed_stage_join_is_shuffle_free).
        """
        spark = df.sparkSession
        name = self._table_name(stage)
        path = self._dir(stage)
        if self._manifest(stage).exists():
            self._manifest(stage).unlink()
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if path.exists():
            shutil.rmtree(path)
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, key)
            .sortBy(key)
            .option("path", str(path))
            .saveAsTable(name)
        )
        out = spark.table(name)
        manifest = {
            "stage": stage,
            "rows": out.count(),
            "bucketed": {"key": key, "buckets": buckets,
                         "ddl": df._jdf.schema().toDDL()},
            **(extra or {}),
        }
        self._manifest(stage).write_text(json.dumps(manifest))
        return out

    def read_bucketed(self, spark: SparkSession, stage: str) -> DataFrame:
        """Catalog read; re-registers the table (from the manifest's
        bucket spec + DDL) when this session has never seen it."""
        name = self._table_name(stage)
        if not spark.catalog.tableExists(name):
            spec = self.manifest(stage)["bucketed"]
            spark.sql(
                f"CREATE TABLE {name} ({spec['ddl']}) USING parquet "
                f"CLUSTERED BY ({spec['key']}) SORTED BY ({spec['key']}) "
                f"INTO {spec['buckets']} BUCKETS "
                f"LOCATION '{self._dir(stage)}'"
            )
        return spark.table(name)
