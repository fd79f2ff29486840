"""Versioned state store: the on-disk layout the CDC, rollup and dedup
sinks commit through.

    state_dir/_manifest.json       {"version": N, "buckets": {p: vdir},
                                    "runs": ["vdir/_run", ...],
                                    "retain": ["vdir", "vdir/_run", ...],
                                    ...}
    state_dir/v00000000N/part-*.parquet              base files
    state_dir/v00000000N/_run/part-*.parquet         one delta run

State is a *base* keyed by one caller-chosen part column ``<col>``,
plus an ordered list of unpartitioned delta *runs* the caller folds
into it on read (merge-on-read; the rollup sink keeps no runs, the
dedup sink no base).  A base write stores ``<col>`` as an ordinary
column, sorted within each file, and writes one file per write task
into a FRESH version directory (never in place — untouched files and
earlier runs stay byte-identical).  A publish then swaps in a new
manifest naming, per part value, the version dir holding its current
rows, and the runs in append order (atomic Hadoop-FS rename via
creek_spark.fsio, so state rides the same filesystem as the data —
local, HDFS or object store).  A read opens each named dir's top-level
files and keeps the rows whose ``<col>`` the manifest maps to that dir,
so a value's superseded rows in an older dir are never read twice.  A
subset read still opens every file of each dir it names and skips row
groups by ``<col>``'s statistics: against one hive dir per value that
is the tradeoff at large state, for data-sized files at any state.
Readers resolve files through the manifest only, so a reader sees the
whole old state or the whole new state, never a mix, and an orphan
version dir left by a crash between write and publish is invisible.
Run dirs are underscore-named, which Spark's file listing treats as
hidden.  Everything the previous manifest named survives one more
publish (``retain``) so a reader that resolved it can still open its
files — the vacuum analog.  Sinks add their own keys (a batch-id
fence, say) beside the layout's.

GC is manifest-driven and works per version dir: a publish deletes
each dir the old manifest kept something of (live or retained) and the
new one keeps nothing of — no listing.  So a dead value's rows stay on disk until
nothing in their dir is kept (CdcApplier folds a base spread over
``_COMPACT_VERSIONS`` dirs whole, which bounds this).  The full orphan
sweep lists every version dir: it deletes the dirs the manifest keeps
nothing of, and the base files a crashed write left in a dir kept only
for its run.  It runs on a store's first publish (after a restart) and
when the caller asks for it (CDC and dedup compaction).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark import fsio

MANIFEST = "_manifest.json"
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


def _vdir(version: int) -> str:
    return f"v{version:09d}"


class VersionedStore:
    """Manifest-published state under ``state_dir``, keyed by
    ``part_col``; part values are manifest keys and so always strings."""

    def __init__(self, spark: SparkSession, state_dir: str, part_col: str):
        self.spark = spark
        self.state_dir = state_dir
        self.part_col = part_col
        self._swept = False

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
        """What ``manifest`` reads: its base version dirs and its runs."""
        if not manifest:
            return set()
        return set(manifest["buckets"].values()) | set(self.runs(manifest))

    def read(self, manifest: dict | None, parts=None) -> DataFrame | None:
        """The committed base rows of ``manifest`` — every part value, or
        those named in ``parts`` — as one DataFrame carrying
        ``part_col``; None when there are none.  One read per version
        dir, of its top-level files, keeping the rows of the values the
        manifest maps to that dir; allowMissingColumns because a column
        added after state was persisted exists only in values rewritten
        since, and the others read it as NULL (ADD COLUMN semantics)."""
        by_ver: dict[str, list[str]] = {}
        for pval, ver in (manifest["buckets"] if manifest else {}).items():
            if parts is None or pval in parts:
                by_ver.setdefault(ver, []).append(pval)
        frames = [
            self._read_dir(ver).where(F.col(self.part_col).isin(sorted(ps)))
            for ver, ps in sorted(by_ver.items())
        ]
        if not frames:
            return None
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        return df

    def _read_dir(self, ver: str) -> DataFrame:
        """The base files of version dir ``ver``.  A dir holding
        ``<part_col>=<p>/`` partition dirs instead is state in the older
        hive layout: it is refused, never read as empty."""
        path = fsio.join(self.state_dir, ver)
        try:
            return self.spark.read.parquet(fsio.join(path, "*.parquet"))
        except AnalysisException:
            prefix = self.part_col + "="
            if any(n.startswith(prefix) for n in fsio.list_names(self.spark, path)):
                raise ValueError(
                    f"{path} holds {prefix}<value> partition dirs: state "
                    "written in an older layout, which this store does not "
                    "read — delete the state dir and replay from the "
                    "checkpoint"
                ) from None
            raise

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
        """Write ``df`` — the part values a batch rewrites — into the
        version dir the next :meth:`publish` will point at, sorted by
        ``part_col`` within each write task's one file, and return the
        values written, observed on the write itself.  Overwrite first
        clears whatever a crashed attempt left in that dir, so an
        orphan file is replaced, never published.  A NULL part value
        has no manifest key, so it is refused rather than written."""
        seen = Observation()
        col = F.col(self.part_col)
        (
            df.sortWithinPartitions(col)
            .observe(seen, F.collect_set(col).alias("parts"),
                     F.count_if(col.isNull()).alias("nulls"))
            .write.mode("overwrite")
            .parquet(fsio.join(self.state_dir, _vdir(self._next_version(manifest))))
        )
        got = seen.get
        if got["nulls"]:
            raise ValueError(f"{got['nulls']} rows with a NULL {self.part_col!r}")
        return {str(p) for p in got["parts"]}

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
        values in ``replaced`` drop their old entry, values in
        ``written`` map to the version dir :meth:`write` filled (a
        replaced value the batch emptied just drops out), ``runs``
        become the pending runs — every one of them written with
        ``run_schema`` (nullability aside) — and ``extra`` keys ride
        along.  Everything ``old`` read is retained one generation.
        Then GC: the version dirs ``old`` kept that the new manifest
        keeps nothing of — or, on this store's first publish and when
        ``sweep`` is set, everything under a version dir that it does
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
        """Delete the version dirs ``kept_before`` names and ``keep``
        does not, one delete each."""
        for vdir in sorted(_vdirs(kept_before) - _vdirs(keep)):
            fsio.delete(self.spark, fsio.join(self.state_dir, vdir))

    def _sweep(self, keep: set[str]) -> None:
        """List every version dir and delete what ``keep`` does not name
        — the orphans of crashed writes and of an interrupted GC: a dir
        none of whose entries is kept, and in a kept dir the run or the
        base files (whatever is not ``_run``) it is not kept for."""
        live = _vdirs(keep)
        for ver in sorted(fsio.list_names(self.spark, self.state_dir)):
            if not _VDIR.fullmatch(ver):
                continue
            vdir = fsio.join(self.state_dir, ver)
            if ver not in live:
                fsio.delete(self.spark, vdir)
                continue
            for sub in sorted(fsio.list_names(self.spark, vdir)):
                if (f"{ver}/{RUN}" if sub == RUN else ver) not in keep:
                    fsio.delete(self.spark, fsio.join(vdir, sub))


def _vdirs(entries: set[str]) -> set[str]:
    """The version dirs manifest entries (``vdir``, ``vdir/_run``) lie in."""
    return {e.split("/", 1)[0] for e in entries}
