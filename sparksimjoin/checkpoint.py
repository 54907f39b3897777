"""Stage checkpoint/resume layer (north_rule, BASELINE.json:14).

Two backends behind one stage protocol (exists / write+manifest /
read / get_or_compute):

- ``fmt='parquet'`` (in-sandbox default): parquet directories with
  atomic rename + a JSON manifest carrying per-partition lineage and
  row counters ("no Iceberg jars in /opt/spark*/jars" — SURVEY.md §7
  risk register).
- ``fmt='iceberg'``: each stage is an Iceberg table
  ``<root>.<stage>`` (``root`` is a catalog-qualified namespace such
  as ``local.simjoin.run1``), the manifest lives in a
  ``<root>.__manifests`` table keyed by stage name, and completion =
  manifest row present. Requires the runtime jars; launch with e.g.::

      spark-submit \\
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
        --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \\
        --conf spark.sql.catalog.local.type=hadoop \\
        --conf spark.sql.catalog.local.warehouse=/path/to/warehouse \\
        --py-files sparksimjoin.zip jobs/run_pipeline.py ...

  The switch is pure config: ``CheckpointManager(spark, root,
  fmt='iceberg')``. An integration test exercises it end-to-end and
  skips cleanly when the jars are absent
  (tests/test_pipeline.py::test_iceberg_checkpoint_backend).

A stage is complete iff its manifest exists; the manifest records
stage name, total rows, per-file (per-partition) row counts, wall
time, and the input stage names — the lineage chain the north rule
asks for. Idempotent re-entry: ``get_or_compute`` skips completed
stages, which is the resume path after a mid-run kill.

Parquet manifests also carry the written frame's full schema
(``schema_json``, ``StructType.json()``), and row counts come from
the parquet footers, so neither ``write`` nor ``read`` launches a
Spark job beyond the data write itself: both open the stage with that
explicit schema instead of a parquet schema-inference job. Manifests
written before ``schema_json`` existed are read with inference.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"

# stage names are public API (CheckpointManager.write/get_or_compute)
# and — on the Iceberg backend — are interpolated into SQL identifiers
# and a DELETE predicate; restrict them to identifier characters so a
# quoted or pathological name fails loudly instead of breaking (or
# injecting into) the statement (ADVICE r5). Parquet stages share the
# rule: names become directory components there.
import re

_STAGE_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$")


def _check_stage_name(name: str) -> str:
    if not _STAGE_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid stage name {name!r}: stage names must match "
            f"{_STAGE_NAME_RE.pattern} (they are used as SQL identifiers "
            "and directory components)"
        )
    return name


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class SparkCatalogAdapter:
    """The real Iceberg catalog contract, as this layer consumes it —
    five operations, nothing more. Everything ABOVE this seam (stage
    protocol, manifest construction, data-before-manifest completion
    ordering, resume semantics) is plain logic testable without the
    runtime jar: tests/test_pipeline.py injects an in-memory double
    of this class, so only THIS adapter's bodies (and the jar probe
    in CheckpointManager) remain jar-gated."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def ensure_root(self, root: str) -> None:  # pragma: no cover - jar-gated
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {root}")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {root}.__manifests "
            "(stage STRING, manifest STRING) USING iceberg"
        )

    def read_table(self, root: str, name: str) -> DataFrame:  # pragma: no cover
        return self.spark.table(f"{root}.{name}")

    def replace_table(self, root: str, name: str, df: DataFrame) -> DataFrame:
        # Iceberg createOrReplace = one atomic snapshot swap; readers
        # of the previous snapshot are never torn  # pragma: no cover
        df.writeTo(f"{root}.{name}").using("iceberg").createOrReplace()
        return self.spark.table(f"{root}.{name}")

    def manifest_rows(self, root: str) -> DataFrame:  # pragma: no cover
        return self.spark.table(f"{root}.__manifests")

    def upsert_manifest(self, root: str, stage: str,
                        manifest_json: str) -> None:  # pragma: no cover
        self.spark.sql(
            f"DELETE FROM {root}.__manifests WHERE stage = '{stage}'"
        )
        self.spark.createDataFrame(
            [(stage, manifest_json)], "stage string, manifest string"
        ).writeTo(f"{root}.__manifests").append()


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet",
                 catalog=None):
        """``catalog``: injectable :class:`SparkCatalogAdapter`-shaped
        object for ``fmt='iceberg'``. Defaults to the real adapter
        (requires the runtime jar); tests inject an in-memory double
        to drive every line of the Iceberg branch jar-free."""
        assert fmt in ("parquet", "iceberg")
        self.spark = spark
        self.root = root
        self.fmt = fmt
        if fmt == "iceberg":
            if catalog is None:
                if not iceberg_available(spark):  # pragma: no cover - jar-dependent
                    raise RuntimeError(
                        "fmt='iceberg' requires the Iceberg runtime on the classpath; "
                        "launch with --packages org.apache.iceberg:"
                        "iceberg-spark-runtime-4.0_2.13:1.10.0 and a configured "
                        "spark.sql.catalog.<name> (see sparksimjoin/checkpoint.py docstring)"
                    )
                catalog = SparkCatalogAdapter(spark)
            self.cat = catalog
            self.cat.ensure_root(root)
        else:
            self.cat = None
            os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _table(self, name: str) -> str:
        return f"{self.root}.{name}"

    # ------------------------------------------------------------ protocol
    def exists(self, name: str) -> bool:
        if self.fmt == "iceberg":
            return (
                self.cat.manifest_rows(self.root)
                .where(F.col("stage") == name)
                .limit(1)
                .count()
                > 0
            )
        return os.path.exists(os.path.join(self._dir(name), MANIFEST))

    def read(self, name: str) -> DataFrame:
        assert self.exists(name), f"stage {name!r} not checkpointed"
        if self.fmt == "iceberg":
            return self.cat.read_table(self.root, name)
        schema_json = self.manifest(name).get("schema_json")
        reader = self.spark.read
        if schema_json is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(self._dir(name))

    def manifest(self, name: str) -> dict:
        if self.fmt == "iceberg":
            row = (
                self.cat.manifest_rows(self.root)
                .where(F.col("stage") == name)
                .select("manifest")
                .first()
            )
            assert row is not None, f"stage {name!r} not checkpointed"
            return json.loads(row["manifest"])
        with open(os.path.join(self._dir(name), MANIFEST)) as f:
            return json.load(f)

    def _partition_counts(self, written: DataFrame) -> dict[str, int]:
        """Per-file row counts for the manifest lineage (Iceberg path:
        one metadata-ish aggregation over the table)."""
        return {
            os.path.basename(r["f"]): r["rows"]
            for r in written.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("rows"))
            .collect()
        }

    @staticmethod
    def _partition_counts_from_footers(path: str) -> dict[str, int]:
        """Per-file row counts straight from the parquet footers — no
        Spark job and no data re-read. The full-scan alternative
        (read-back + groupBy(input_file_name)) re-reads every stage's
        entire output just to count rows; at scale that doubles
        checkpoint I/O, and in the sandbox it added ~1s of fixed
        driver-synchronized latency per stage."""
        import pyarrow.parquet as pq

        out = {}
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                out[name] = pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        return out

    def write(self, df: DataFrame, name: str, inputs: list[str] | None = None,
              extra: dict | None = None) -> DataFrame:
        """Atomic completion marker: data lands first (tmp dir rename
        for parquet; createOrReplace snapshot for Iceberg), then the
        manifest write marks the stage complete."""
        t0 = time.time()
        _check_stage_name(name)
        if self.fmt == "iceberg":
            # completion ordering is the contract: the data snapshot
            # swap lands FIRST, the manifest upsert SECOND — a crash
            # between the two leaves the stage "incomplete" (manifest
            # absent) and resume recomputes; it can never leave a
            # manifest pointing at missing data
            written = self.cat.replace_table(self.root, name, df)
            per_file = self._partition_counts(written)
            manifest = self._build_manifest(
                name, per_file, inputs, extra, t0, written.schema
            )
            self.cat.upsert_manifest(
                self.root, name, json.dumps(manifest, sort_keys=True)
            )
            return self.cat.read_table(self.root, name)
        tmp = self._dir(f"_tmp_{name}")
        final = self._dir(name)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        schema = df.schema
        per_file = self._partition_counts_from_footers(tmp)
        manifest = self._build_manifest(name, per_file, inputs, extra, t0, schema)
        manifest["schema_json"] = schema.json()
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, final)
        return self.spark.read.schema(schema).parquet(final)

    def _build_manifest(self, name, per_file, inputs, extra, t0, schema) -> dict:
        manifest = {
            "stage": name,
            "rows": int(sum(per_file.values())),
            "partitions": per_file,
            "inputs": inputs or [],
            "wall_time_sec": round(time.time() - t0, 3),
            "schema": schema.simpleString(),
        }
        # callable extras are resolved HERE, after the stage's write
        # action has run — lets stages report Observation-collected
        # metrics (e.g. dropped stop tokens) without a separate job
        manifest.update(
            {k: (v() if callable(v) else v) for k, v in (extra or {}).items()}
        )
        return manifest

    def get_or_compute(
        self, name: str, fn: Callable[[], DataFrame], inputs: list[str] | None = None,
        extra: dict | None = None,
    ) -> DataFrame:
        if self.exists(name):
            return self.read(name)
        return self.write(fn(), name, inputs, extra)

    def all_manifests(self) -> list[dict]:
        if self.fmt == "iceberg":
            return [
                json.loads(r["manifest"])
                for r in self.cat.manifest_rows(self.root)
                .orderBy("stage")
                .collect()
            ]
        out = []
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("_") and self.exists(name):
                out.append(self.manifest(name))
        return out
