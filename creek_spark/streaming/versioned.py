"""Versioned-partition state store: the on-disk layout the CDC and
rollup sinks commit through.

    state_dir/_manifest.json       {"version": N, "buckets": {p: vdir},
                                    "retain": ["vdir/col=p", ...], ...}
    state_dir/v00000000N/<col>=<p>/part-*.parquet

State is hive-partitioned on one caller-chosen column.  A writer puts
the partitions a batch rewrites into a FRESH version directory (never in
place — untouched partitions stay byte-identical), then publishes a new
manifest mapping each partition to the version dir holding its current
files (atomic Hadoop-FS rename via creek_spark.fsio, so state rides the
same filesystem as the data — local, HDFS or object store).  Readers
resolve partitions through the manifest only, so a reader sees the whole
old state or the whole new state, never a mix, and an orphan version dir
left by a crash between write and publish is invisible.  Files the
previous manifest referenced survive one more publish (``retain``) so a
reader that resolved it can still open them — the vacuum analog.  Sinks
add their own keys (a batch-id fence, say) beside the layout's.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from creek_spark import fsio

MANIFEST = "_manifest.json"

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

    def _part(self, ver: str, pval: str) -> str:
        return f"{ver}/{self.part_col}={pval}"

    def manifest(self) -> dict | None:
        m = fsio.read_json_or_none(self.spark, fsio.join(self.state_dir, MANIFEST))
        if m is not None and "buckets" not in m:
            raise ValueError(
                f"{self.state_dir}/{MANIFEST} has no 'buckets' key: state "
                "written in the older layout (key 'parts', v%07d version "
                "dirs), which this store does not read — delete the state "
                "dir and replay from the checkpoint"
            )
        return m

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
        self, old: dict | None, replaced: set, written: set, **extra
    ) -> None:
        """Swap the manifest to the post-batch state: partitions in
        ``replaced`` drop their old entry, partitions in ``written`` map
        to the version dir :meth:`write` filled (a replaced partition the
        batch emptied just drops out), ``extra`` keys ride along.  Then GC partition dirs
        that neither the new manifest nor its ``retain`` list name."""
        version = self._next_version(old)
        old_map = dict(old["buckets"]) if old else {}
        new_map = {p: v for p, v in old_map.items() if p not in replaced}
        new_map.update({p: _vdir(version) for p in written})
        manifest = {
            "version": version,
            "buckets": new_map,
            "retain": sorted(self._part(v, p) for p, v in old_map.items()),
            **extra,
        }
        fsio.write_json_atomic(
            self.spark, fsio.join(self.state_dir, MANIFEST), manifest
        )
        keep = {self._part(v, p) for p, v in new_map.items()}
        keep.update(manifest["retain"])
        prefix = self.part_col + "="
        for ver in fsio.list_names(self.spark, self.state_dir):
            vdir = fsio.join(self.state_dir, ver)
            if not ver.startswith("v") or not fsio.is_dir(self.spark, vdir):
                continue
            live = False
            for sub in fsio.list_names(self.spark, vdir):
                if not sub.startswith(prefix):
                    continue
                # the writer escapes partition values in dir names
                if f"{ver}/{unquote(sub)}" in keep:
                    live = True
                else:
                    fsio.delete(self.spark, fsio.join(vdir, sub))
            if not live:
                fsio.delete(self.spark, vdir)
