"""Versioned-partition state store: the on-disk layout the CDC, rollup
and dedup sinks commit through.

    state_dir/_manifest.json       {"version": N, "buckets": {p: vdir},
                                    "runs": ["vdir/_run", ...],
                                    "retain": ["vdir/col=p", "vdir/_run", ...],
                                    ...}
    state_dir/v00000000N/<col>=<p>/part-*.parquet    base partitions
    state_dir/v00000000N/_run/part-*.parquet         one delta run

State is a *base* hive-partitioned on one caller-chosen column, plus an
ordered list of unpartitioned delta *runs* the caller folds into it on
read (merge-on-read; the rollup sink keeps no runs, the dedup sink no
base).  A writer puts new files into a FRESH version directory (never
in place — untouched partitions and earlier runs stay byte-identical),
then publishes a new manifest naming, per partition, the version dir
holding its current files, and the runs in append order (atomic
Hadoop-FS rename via creek_spark.fsio, so state rides the same
filesystem as the data —
local, HDFS or object store).  Readers resolve files through the
manifest only, so a reader sees the whole old state or the whole new
state, never a mix, and an orphan version dir left by a crash between
write and publish is invisible.  Run dirs are underscore-named, which
Spark's file listing treats as hidden: a plain parquet read of the
state dir sees base partitions only.  Everything the previous manifest named
survives one more publish (``retain``) so a reader that resolved it can
still open its files — the vacuum analog.  Sinks add their own keys (a
batch-id fence, say) beside the layout's.

GC is manifest-driven: a publish deletes exactly the partition and run
dirs the old manifest kept (live or retained) and the new one keeps in
neither list — no listing.  The full orphan sweep, which lists every
version dir, runs on a store's first publish (after a restart) and when
the caller asks for it (CDC and dedup compaction).
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from creek_spark import fsio

MANIFEST = "_manifest.json"
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
RUN = "_run"
_VDIR = re.compile(r"v\d{9}")

# Driver round-trips in the sinks collect the DISTINCT partition/bucket
# values a batch touches — bounded by partition-key cardinality, not data
# volume.  The cap turns a mis-chosen partition key (e.g. partitioning a
# rollup by event id) into a loud error instead of a silent multi-million
# row collect that stalls or OOMs the driver.
MAX_DRIVER_PARTITION_VALUES = 100_000


def bounded_partition_values(
    df: DataFrame, col: str, *, what: str, cap: int = MAX_DRIVER_PARTITION_VALUES
) -> set:
    """Collect the distinct values of ``col`` to the driver, raising with
    guidance when cardinality exceeds ``cap`` (collects cap+1 rows max).
    Values keep their native type; callers stringify as needed."""
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: over {cap} distinct {col!r} values in one batch — "
            "this column is a driver-side partition key and must be low-"
            "cardinality (a day/tier/bucket, not a row id); repartition "
            "the state on a coarser key or raise the cap explicitly"
        )
    return {r[0] for r in rows}


_DISCOVERY_LOCK = threading.Lock()


@contextmanager
def _listing_on_driver(spark: SparkSession):
    """Reads opened inside list their paths on the driver.  A store read
    names every partition dir it opens — one per live partition, a few
    dozen for CDC buckets — and above Spark's parallel-discovery
    threshold (32 paths) the listing would run as a Spark job whose
    scheduling costs more than the listing itself.

    This mutates session state: the threshold is raised on ``spark``
    for the duration and then put back.  Store reads from several
    threads (one query per table, concurrent readers) serialize on a
    lock so none saves another's raised value as the one to restore;
    a read outside any store that runs meanwhile also lists on the
    driver."""
    with _DISCOVERY_LOCK:
        prev = spark.conf.get(_DISCOVERY_THRESHOLD, None)
        spark.conf.set(_DISCOVERY_THRESHOLD, str(MAX_DRIVER_PARTITION_VALUES))
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(_DISCOVERY_THRESHOLD)
            else:
                spark.conf.set(_DISCOVERY_THRESHOLD, prev)


def _vdir(version: int) -> str:
    return f"v{version:09d}"


class VersionedStore:
    """Manifest-published, hive-partitioned state under ``state_dir``,
    partitioned on ``part_col``; partition values are manifest keys and
    so always strings."""

    def __init__(self, spark: SparkSession, state_dir: str, part_col: str):
        self.spark = spark
        self.state_dir = state_dir
        self.part_col = part_col
        self._swept = False

    def _part(self, ver: str, pval: str) -> str:
        return f"{ver}/{self.part_col}={pval}"

    def manifest(self) -> dict | None:
        m = fsio.read_json_or_none(self.spark, fsio.join(self.state_dir, MANIFEST))
        if m is not None and "buckets" not in m:
            found = ", ".join(map(repr, sorted(m)))
            raise ValueError(
                f"{self.state_dir}/{MANIFEST} has no 'buckets' key (found "
                f"{found}): state written in an older layout, which this "
                "store does not read — delete the state dir and replay from "
                "the checkpoint"
            )
        return m

    @staticmethod
    def runs(manifest: dict | None) -> list[str]:
        return list(manifest.get("runs", ())) if manifest else []

    def _live(self, manifest: dict | None) -> set[str]:
        """The partition and run dirs ``manifest`` reads."""
        if not manifest:
            return set()
        return {
            self._part(v, p) for p, v in manifest["buckets"].items()
        } | set(self.runs(manifest))

    def read(self, manifest: dict | None, parts=None) -> DataFrame | None:
        """The committed partitions of ``manifest`` — all of them, or
        those named in ``parts`` — as one DataFrame carrying
        ``part_col``; None when there are none.  One basePath read per
        version dir; allowMissingColumns because a column added after
        state was persisted exists only in partitions rewritten since,
        and the others read it as NULL (ADD COLUMN semantics)."""
        by_ver: dict[str, list[str]] = {}
        for pval, ver in (manifest["buckets"] if manifest else {}).items():
            if parts is None or pval in parts:
                by_ver.setdefault(ver, []).append(pval)
        with _listing_on_driver(self.spark):
            frames = [
                self.spark.read.option(
                    "basePath", fsio.join(self.state_dir, ver)
                ).parquet(
                    *[fsio.join(self.state_dir, self._part(ver, p)) for p in sorted(ps)]
                )
                for ver, ps in sorted(by_ver.items())
            ]
        if not frames:
            return None
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        return df

    @staticmethod
    def run_schema(manifest: dict | None) -> T.StructType | None:
        """The schema every pending run of ``manifest`` was written with;
        None when no run is pending."""
        if not (manifest and manifest.get("runs")):
            return None
        return T.StructType.fromJson(manifest["run_schema"])

    def read_runs(self, manifest: dict | None) -> DataFrame | None:
        """The pending runs of ``manifest`` as one DataFrame, in no
        particular row order (the caller's fold orders rows); None when
        there are none.  Read with the stored schema: no footer is
        opened to infer it.  Spark is handed each run's part files, not
        its dir: a root path named ``_run`` is hidden from its listing,
        which it reports as a warning on every read."""
        schema = self.run_schema(manifest)
        if schema is None:
            return None
        return self.spark.read.schema(schema).parquet(
            *[fsio.join(self.state_dir, r, "*.parquet") for r in manifest["runs"]]
        )

    def write_run(self, df: DataFrame, manifest: dict | None) -> str:
        """Write ``df`` as one unpartitioned run into the version dir the
        next :meth:`publish` will point at; returns the run's manifest
        entry.  Overwrite clears whatever a crashed attempt left there."""
        run = f"{_vdir(self._next_version(manifest))}/{RUN}"
        df.write.mode("overwrite").parquet(fsio.join(self.state_dir, run))
        return run

    def write(self, df: DataFrame, manifest: dict | None) -> set:
        """Write ``df`` — the partitions a batch rewrites — into the
        version dir the next :meth:`publish` will point at, and return
        the partition values now present there (one listing).  Static
        overwrite first clears whatever a crashed attempt left in that
        dir, even when the session sets dynamic overwrite, so an orphan
        partition is replaced, never published."""
        path = fsio.join(self.state_dir, _vdir(self._next_version(manifest)))
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(self.part_col)
            .parquet(path)
        )
        prefix = self.part_col + "="
        return {
            unquote(sub[len(prefix):])
            for sub in fsio.list_names(self.spark, path)
            if sub.startswith(prefix)
        }

    @staticmethod
    def _next_version(manifest: dict | None) -> int:
        return manifest["version"] + 1 if manifest else 1

    def publish(
        self,
        old: dict | None,
        replaced: set,
        written: set,
        *,
        runs: list[str] = (),
        run_schema: T.StructType | None = None,
        sweep: bool = False,
        **extra,
    ) -> dict:
        """Swap the manifest to the post-batch state and return it:
        partitions in ``replaced`` drop their old entry, partitions in
        ``written`` map to the version dir :meth:`write` filled (a
        replaced partition the batch emptied just drops out), ``runs``
        become the pending runs — every one of them written with
        ``run_schema`` (nullability aside) — and ``extra`` keys ride
        along.  Everything ``old`` read is retained one generation.
        Then GC: the dirs ``old`` kept that the new manifest keeps in
        neither list — or, on this store's first publish and when
        ``sweep`` is set, every dir under a version dir that it does
        not keep."""
        version = self._next_version(old)
        old_map = dict(old["buckets"]) if old else {}
        new_map = {p: v for p, v in old_map.items() if p not in replaced}
        new_map.update({p: _vdir(version) for p in written})
        manifest = {
            "version": version,
            "buckets": new_map,
            "runs": list(runs),
            "retain": sorted(self._live(old)),
            **extra,
        }
        if runs:
            manifest["run_schema"] = run_schema.jsonValue()
        fsio.write_json_atomic(
            self.spark, fsio.join(self.state_dir, MANIFEST), manifest
        )
        keep = self._live(manifest) | set(manifest["retain"])
        if sweep or not self._swept:
            self._sweep(keep)
            self._swept = True
        else:
            self._gc(self._live(old) | set(old.get("retain", ())) if old else set(), keep)
        return manifest

    def _gc(self, kept_before: set[str], keep: set[str]) -> None:
        """Delete the dirs in ``kept_before`` but not in ``keep``: a
        version dir none of whose entries is kept goes in one delete."""
        dead = kept_before - keep
        live_vdirs = {e.split("/", 1)[0] for e in keep}
        for vdir in sorted({e.split("/", 1)[0] for e in dead} - live_vdirs):
            fsio.delete(self.spark, fsio.join(self.state_dir, vdir))
        for entry in sorted(dead):
            if entry.split("/", 1)[0] in live_vdirs:
                fsio.delete(self.spark, fsio.join(self.state_dir, entry))

    def _sweep(self, keep: set[str]) -> None:
        """List every version dir and delete what ``keep`` does not name
        — the orphans of crashed writes and of an interrupted GC."""
        prefix = self.part_col + "="
        for ver in sorted(fsio.list_names(self.spark, self.state_dir)):
            if not _VDIR.fullmatch(ver):
                continue
            vdir = fsio.join(self.state_dir, ver)
            live = False
            for sub in sorted(fsio.list_names(self.spark, vdir)):
                if not (sub.startswith(prefix) or sub == RUN):
                    continue
                # the writer escapes partition values in dir names
                if f"{ver}/{unquote(sub)}" in keep:
                    live = True
                else:
                    fsio.delete(self.spark, fsio.join(vdir, sub))
            if not live:
                fsio.delete(self.spark, vdir)
