"""Per-wave snapshot checkpointing + resume (north-rule resumability).

The reference checkpoints by rewriting ``user_page.json`` after every page and
flushing CSV every N pages (`独立版/(using)WeiboUserScrapy.py:511-537`). The
engine's equivalent is a snapshot per wave holding everything needed to resume
mid-crawl: the pending frontier, the exact seen set, the bloom state, plus
append-only per-wave logs (fetch lineage/metrics, extracted entities).

This sandbox has no Iceberg runtime jar, so snapshots are parquet directories
with an Iceberg-shaped commit protocol: all data files are written first, then
a tiny ``_COMMIT.json`` manifest is atomically renamed into place — a snapshot
exists iff its manifest does (exactly Iceberg's metadata-pointer-last rule).
On a real cluster the same layout maps 1:1 onto Iceberg tables
(``df.writeTo(tbl).append()`` / snapshot ids) with no engine change.

Layout::

    ckpt/
      snapshots/wave=00007/{frontier,bloom}/        # per-wave state to resume
      snapshots/wave=00007/_COMMIT.json             # manifest, written last
      seen_keys/wave=00007/bucket=NN/               # APPEND-ONLY exact seen set
      seen_keys/wave=00008/part-*.parquet           # …or flat L0 append (small
                                                    # wave: bucket-sorted file,
                                                    # bucket as a data column)
      seen_segments/seg=00000-00004/bucket=NN/      # compacted wave ranges
      seen_segments/seg=00000-00004/_SEG_COMMIT.json
      logs/fetch_log/wave=00007/                    # append-only lineage
      logs/metrics/wave=00007/
      logs/entities/wave=00007/                     # tall PARSED rows

The exact URL-seen set is NOT part of the snapshot: rewriting it per wave
would be an O(total-ever-crawled) cost per wave (the r02 scale liability).
Instead each wave appends only its newly-seen keys, hash-bucket partitioned
(`bucket = pmod(xxhash64(canon_url, salt), B)`, same bucketing as the bloom
state), and readers prune to (wave ≤ resume point) × (buckets present in the
bloom-maybe slice) — both are directory-level partition prunes, so a wave's
exact anti-join reads O(maybe-slice buckets), never the full history.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wss_spark.fsutil import atomic_json_marker


def _wave_dir(root: str, wave: int) -> str:
    return os.path.join(root, "snapshots", f"wave={wave:05d}")


@dataclass
class Snapshot:
    wave: int
    manifest: dict


def observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an Observation of its row count, filled by the first
    action that runs the returned frame: a count that rides on a write or
    materialization the caller runs anyway instead of costing a Spark job
    of its own. Read it (``obs.get["n"]``) only after such an action —
    ``get`` blocks until one has run."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def observed_count(obs: Observation) -> int | None:
    """``obs.get["n"]``, or None when the action that completed ``obs`` no
    longer held the observed node in its final plan. That happens to a
    node below a cached or shuffled stage: adaptive execution drops a
    finished stage whose consumer came out empty, and the observation
    completes with an empty row. A node at the root of a write or a
    ``localCheckpoint`` cannot be dropped."""
    if obs._jo.getRow().size() == 0:
        return None
    return obs.get["n"]


def write_snapshot(root: str, wave: int, frontier: DataFrame,
                   bloom: DataFrame, stats: dict) -> Snapshot:
    """Commit the state a resume needs. The manifest also records
    ``frontier_rows``, the frontier's row count observed on its write, so
    neither the next wave nor a resume counts it again."""
    d = _wave_dir(root, wave)
    frontier, rows = observe_count(frontier)
    frontier.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
    bloom.write.mode("overwrite").parquet(os.path.join(d, "bloom"))
    manifest = {"wave": wave, "committed_at": time.time(), **stats,
                "frontier_rows": rows.get["n"]}
    atomic_json_marker(os.path.join(d, "_COMMIT.json"), manifest)  # commit point
    return Snapshot(wave, manifest)


def write_log(root: str, name: str, wave: int, df: DataFrame) -> None:
    """Append-only per-wave log (idempotent: re-running a wave overwrites its
    own directory, so a crash between logs and snapshot cannot duplicate)."""
    df.write.mode("overwrite").parquet(
        os.path.join(root, "logs", name, f"wave={wave:05d}")
    )


def latest_snapshot(root: str) -> Snapshot | None:
    snap_root = os.path.join(root, "snapshots")
    if not os.path.isdir(snap_root):
        return None
    best: Snapshot | None = None
    for entry in os.listdir(snap_root):
        mf = os.path.join(snap_root, entry, "_COMMIT.json")
        if entry.startswith("wave=") and os.path.exists(mf):
            with open(mf) as f:
                manifest = json.load(f)
            if best is None or manifest["wave"] > best.wave:
                best = Snapshot(manifest["wave"], manifest)
    return best


def read_state(spark: SparkSession, root: str, wave: int,
               frontier_schema=None, filter_schema=None):
    """(frontier, filter state) of the snapshot at ``wave``. Pass the
    schemas when the caller holds them (it just wrote the snapshot):
    schema inference costs one Spark job per frame."""
    d = _wave_dir(root, wave)
    # the live filter-state dir is named by the commit manifest
    # ("filter_dir", default the historical "bloom" — it holds whichever
    # seen-filter variant's state the crawl ran with). swap_filter_state
    # flips the pointer atomically via the marker rewrite.
    fdir = "bloom"
    mf = os.path.join(d, "_COMMIT.json")
    if os.path.exists(mf):
        with open(mf) as f:
            fdir = json.load(f).get("filter_dir", "bloom")
    return (
        _reader(spark, frontier_schema).parquet(os.path.join(d, "frontier")),
        _reader(spark, filter_schema).parquet(os.path.join(d, fdir)),
    )


def _reader(spark: SparkSession, schema=None):
    return spark.read if schema is None else spark.read.schema(schema)


def swap_filter_state(root: str, snap: Snapshot, state: DataFrame) -> Snapshot:
    """Atomically replace a committed snapshot's seen-filter state (the
    eviction path: cuckoo.delete produces a new state that must become the
    one a resume/continue_seen generation loads).

    Crash-safe without touching the live data: the new state is written to
    the NON-live of two alternating dirs, then the commit marker — an
    atomic tmp+rename — flips ``filter_dir`` to it. A crash mid-write
    leaves the marker pointing at the intact old state."""
    d = _wave_dir(root, snap.wave)
    cur = snap.manifest.get("filter_dir", "bloom")
    nxt = "bloom_v2" if cur == "bloom" else "bloom"
    state.write.mode("overwrite").parquet(os.path.join(d, nxt))
    manifest = {**snap.manifest, "filter_dir": nxt,
                "filter_swapped_at": time.time()}
    atomic_json_marker(os.path.join(d, "_COMMIT.json"), manifest)
    return Snapshot(snap.wave, manifest)


# ---------------------------------------------------------------------------
# append-only exact-seen key store (bucket-partitioned, wave-versioned)
# ---------------------------------------------------------------------------


def has_state(root: str) -> bool:
    """Any committed engine state under ``root`` (snapshots, seen keys or
    segments, logs) from a previous crawl?"""
    return any(
        os.path.isdir(os.path.join(root, d))
        for d in ("snapshots", "seen_keys", "seen_segments", "logs")
    )


def reset_state(root: str) -> None:
    """Remove the engine-owned state subdirectories so a FRESH crawl into a
    reused checkpoint_dir starts from nothing. Without this, committed seen
    SEGMENTS from the previous crawl outlive the new crawl's per-wave
    overwrites (segments serve reads for their whole wave range, shadowing
    the rewritten wave dirs) and poison the exact seen set. Only the
    engine's own layout is touched — never the rest of ``root``."""
    import shutil

    for d in ("snapshots", "seen_keys", "seen_segments", "logs"):
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _seen_root(root: str) -> str:
    return os.path.join(root, "seen_keys")


def _seg_root(root: str) -> str:
    return os.path.join(root, "seen_segments")


# data columns inside seen files; wave/bucket (and seg) are directory-level
# partition columns. Explicit schemas everywhere: no footer-based inference.
_SEEN_FILE_SCHEMA = "url_hash long, canon_url string"
# flat (L0) wave appends keep bucket as a DATA column instead of a directory
_SEEN_FLAT_FILE_SCHEMA = "bucket int, url_hash long, canon_url string"


def _is_flat_wave_dir(path: str) -> bool:
    """A wave dir is flat (L0 layout) iff it has no ``bucket=`` subdirs."""
    try:
        return not any(e.startswith("bucket=") for e in os.listdir(path))
    except FileNotFoundError:
        return False


def write_seen_keys(root: str, wave: int, newly_seen: DataFrame,
                    n_keys: int | None = None,
                    flat_max_keys: int = 50_000) -> None:
    """Append one wave's newly-seen keys under ``seen_keys/wave=NNNNN/``.

    ``newly_seen`` carries (bucket, url_hash, canon_url). Re-running a wave
    (crash before its snapshot committed) overwrites its own directory with
    the same deterministic rows — idempotent, like write_log.

    Two layouts, LSM-style (the caller already knows the wave's key count —
    it counted the admitted set — so the choice costs nothing):

    - **flat L0 append** (``n_keys`` given and ≤ ``flat_max_keys``): ONE
      file per wave, rows sorted by ``bucket`` so parquet row-group zone
      maps still prune bucket probes. A bucketed write of a small wave pays
      a shuffle plus one file-create per touched bucket (measured ~10× the
      flat write at sandbox wave sizes) for directories compaction is about
      to merge anyway.
    - **bucketed append** (large wave, or ``n_keys`` unknown):
      ``bucket=B/`` subdirectories, one file per touched bucket — the
      directory-level prune pays for itself once a single wave's keys
      dwarf the read amplification of the loose-wave window.

    Compaction (:func:`compact_seen_keys`) normalizes BOTH layouts into
    bucketed segments, so at any moment readers see at most ``cadence``
    loose wave dirs of either kind. On a real cluster this is an Iceberg
    append to a table partitioned by ``bucket(B, canon_url)`` with a
    bucket sort order — Iceberg likewise defers small-file layout to
    rewrite_data_files."""
    dest = os.path.join(_seen_root(root), f"wave={wave:05d}")
    keys = newly_seen.select("bucket", "url_hash", "canon_url")
    if n_keys is not None and n_keys <= flat_max_keys:
        (
            keys.coalesce(1)
            .sortWithinPartitions("bucket")
            .write.mode("overwrite")
            .parquet(dest)
        )
    else:
        (
            keys.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(dest)
        )


_SEG_NAME = re.compile(r"seg=(\d+)-(\d+)(?:\.r(\d+))?$")


def _committed_segments(root: str) -> list[tuple[int, int, str]]:
    """[(lo_wave, hi_wave, path)] of committed seen-key segments. A segment
    exists iff its ``_SEG_COMMIT.json`` does (written last).

    Order encodes reader PREFERENCE for the greedy coverage walk in
    read_seen_keys: ascending ``lo``, then WIDEST range first, then highest
    revision first — so a committed eviction rewrite (which covers the full
    prior range under a ``.rK`` suffix) shadows both the narrow cadence
    segments and any earlier revision of itself, Iceberg-snapshot-style.
    Shadowed segments stay on disk (crash before the new marker lands must
    leave the old state fully served) and are dropped opportunistically by
    the next full rewrite's garbage sweep."""
    sr = _seg_root(root)
    if not os.path.isdir(sr):
        return []
    cands = []
    for e in os.listdir(sr):
        m = _SEG_NAME.match(e)
        if m is None:
            continue
        if not os.path.exists(os.path.join(sr, e, "_SEG_COMMIT.json")):
            continue  # crashed compaction/eviction: ignored
        lo, hi, rev = int(m.group(1)), int(m.group(2)), int(m.group(3) or 0)
        cands.append((lo, -hi, -rev, os.path.join(sr, e)))
    return [(lo, -nhi, p) for lo, nhi, _nrev, p in sorted(cands)]


def evict_seen_keys(spark: SparkSession, root: str, evict: DataFrame,
                    up_to_wave: int) -> bool:
    """Remove keys from the exact seen store — the copy-on-write DELETE the
    append-only store otherwise lacks, making a refresh pass ("force these
    URLs back into crawlability") a store-level operation.

    ``evict`` carries (bucket, url_hash, canon_url). The whole committed
    store ≤ ``up_to_wave`` is re-read, anti-joined against the evict set,
    and rewritten as ONE full-range segment at the next revision number;
    the commit marker (written last, with fresh zone maps) atomically makes
    it the served state. Waves APPENDED AFTER ``up_to_wave`` are untouched,
    so a later re-crawl of an evicted url re-seens it normally.

    Cost is O(total seen ≤ up_to_wave) — the Iceberg copy-on-write delete
    trade, right for occasional refresh campaigns; per-wave appends stay
    O(wave). Crash at any point leaves the previous state fully served
    (uncommitted revision dirs are ignored). Returns False when the store
    is empty.

    Shadowed state (narrow segments and loose wave dirs ≤ ``up_to_wave``)
    is deliberately left on disk: reads at watermarks BELOW the eviction
    point still serve the historical (pre-eviction) key set from it, and a
    crash before this revision's marker lands must leave the previous
    state intact. Reclaiming it is a separate maintenance decision (the
    Iceberg expire_snapshots analog), not part of the eviction commit."""
    existing = read_seen_keys(spark, root, up_to_wave)
    if existing is None:
        return False
    kept = existing.join(
        evict.select("bucket", "url_hash", "canon_url"),
        ["bucket", "url_hash", "canon_url"],
        "left_anti",
    )
    sr = _seg_root(root)
    rev = 0
    if os.path.isdir(sr):
        for e in os.listdir(sr):
            m = _SEG_NAME.match(e)
            if m and int(m.group(1)) == 0 and int(m.group(2)) == up_to_wave:
                rev = max(rev, int(m.group(3) or 0) + 1)
    name = f"seg={0:05d}-{up_to_wave:05d}" + (f".r{rev}" if rev else "")
    seg_dir = os.path.join(sr, name)
    (
        kept.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(seg_dir)
    )
    written = (
        spark.read.option("basePath", sr)
        .schema(_SEEN_FILE_SCHEMA + ", seg string, bucket int")
        .parquet(seg_dir)
        .groupBy("bucket")
        .agg(F.min("url_hash").alias("lo"), F.max("url_hash").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    zones = {str(r["bucket"]): [r["lo"], r["hi"], r["n"]] for r in written}
    atomic_json_marker(os.path.join(seg_dir, "_SEG_COMMIT.json"),
                       {"lo": 0, "hi": up_to_wave, "rev": rev,
                        "evicted": True, "zones": zones,
                        "committed_at": time.time()})
    return True


def gc_seen_store(root: str) -> dict:
    """Reclaim seen-store state shadowed by committed full-range segments —
    the Iceberg expire_snapshots analog the eviction commit deliberately
    defers (see evict_seen_keys). Removes, for the WIDEST committed
    full-range (lo=0) segment at its highest revision:

    - earlier revisions of the same range,
    - committed or crashed narrower segments with ``hi`` ≤ its ``hi``,
    - loose wave dirs with ``wave`` ≤ its ``hi``.

    After GC, reads at watermarks ≥ the segment's ``hi`` are unchanged
    (the survivor serves them); reads BELOW it lose time travel to
    pre-eviction history — that is the point of expiry, and why this is a
    separate, explicit maintenance call rather than part of any commit.
    Never touches anything when no full-range segment exists. Returns
    counts of removed segment dirs and wave dirs."""
    import shutil

    best = None  # (hi, rev, name) of the widest committed EVICTION segment
    sr = _seg_root(root)
    if os.path.isdir(sr):
        for e in os.listdir(sr):
            m = _SEG_NAME.match(e)
            if m is None or int(m.group(1)) != 0:
                continue
            mf = os.path.join(sr, e, "_SEG_COMMIT.json")
            if not os.path.exists(mf):
                continue
            with open(mf) as f:
                marker = json.load(f)
            # only an eviction REWRITE (marker flag) authorizes expiry: a
            # lo=0 cadence segment also covers its waves, but expiring
            # around it would silently discard watermark-0 time travel
            # without any eviction having asked for it
            if not marker.get("evicted"):
                continue
            key = (int(m.group(2)), int(m.group(3) or 0), e)
            if best is None or key > best:
                best = key
    if best is None:
        return {"removed_segments": 0, "removed_waves": 0}
    hi, _rev, keep = best
    n_seg = n_wave = 0
    for e in os.listdir(sr):
        m = _SEG_NAME.match(e)
        if m is None or e == keep:
            continue
        if int(m.group(2)) <= hi:
            shutil.rmtree(os.path.join(sr, e), ignore_errors=True)
            n_seg += 1
    for w, p in _seen_wave_dirs(root, hi):
        shutil.rmtree(p, ignore_errors=True)
        n_wave += 1
    return {"removed_segments": n_seg, "removed_waves": n_wave}


def _seen_wave_dirs(root: str, up_to_wave: int,
                    skip_waves: set[int] | None = None) -> list[tuple[int, str]]:
    sr = _seen_root(root)
    if not os.path.isdir(sr):
        return []
    out = []
    for e in sorted(os.listdir(sr)):
        if not e.startswith("wave="):
            continue
        w = int(e.split("=")[1])
        if w > up_to_wave or (skip_waves and w in skip_waves):
            continue
        out.append((w, os.path.join(sr, e)))
    return out


def compact_seen_keys(spark: SparkSession, root: str, lo: int, hi: int) -> bool:
    """Iceberg-style small-file maintenance for the seen store: merge wave
    dirs [lo..hi] into ONE segment dir (one file per bucket), committed by a
    marker written last. The source wave dirs are never deleted — a crashed
    compaction leaves only an uncommitted segment that readers ignore, and
    re-running overwrites it. Rewrite cost is O(keys in the window), never
    O(total-seen), so total write amplification over a crawl is a flat 2×
    (every key: one wave append + one segment merge).

    Why it exists: without compaction a W-wave crawl's seen store is
    W × n_buckets tiny files, and EVERY wave's exact anti-join pays the
    open/list cost of all of them — the measured admit-phase growth at the
    30-wave bench (4.5 s → 9.4 s) was file-count, not data volume (the bloom
    had ZERO false positives). On a real warehouse the same maintenance is
    Iceberg's rewrite_data_files; the bucket partitioning is unchanged."""
    dirs = [p for _w, p in _seen_wave_dirs(root, hi) if _w >= lo]
    if not dirs:
        return False
    flat = [p for p in dirs if _is_flat_wave_dir(p)]
    bucketed = [p for p in dirs if p not in flat]
    parts = []
    if bucketed:
        parts.append(
            spark.read.option("basePath", _seen_root(root))
            .schema(_SEEN_FILE_SCHEMA + ", wave int, bucket int")
            .parquet(*bucketed)
            .select("bucket", "url_hash", "canon_url")
        )
    if flat:
        parts.append(
            spark.read.option("basePath", _seen_root(root))
            .schema(_SEEN_FLAT_FILE_SCHEMA + ", wave int")
            .parquet(*flat)
            .select("bucket", "url_hash", "canon_url")
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    seg_dir = os.path.join(_seg_root(root), f"seg={lo:05d}-{hi:05d}")
    (
        df.select("bucket", "url_hash", "canon_url")
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(seg_dir)
    )
    # zone-map stats, computed FROM THE WRITTEN SEGMENT (they describe what
    # landed, like write_release's manifest): per-bucket [min, max, n] of
    # url_hash, recorded in the commit marker — the Iceberg-manifest
    # analog. Readers prune whole bucket leaves whose hash zone cannot
    # intersect the probe slice (read_seen_keys ``probe_ranges``) without
    # opening a single parquet footer.
    written = (
        spark.read.option("basePath", _seg_root(root))
        .schema(_SEEN_FILE_SCHEMA + ", seg string, bucket int")
        .parquet(seg_dir)
        .groupBy("bucket")
        .agg(F.min("url_hash").alias("lo"), F.max("url_hash").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    zones = {str(r["bucket"]): [r["lo"], r["hi"], r["n"]] for r in written}
    atomic_json_marker(os.path.join(seg_dir, "_SEG_COMMIT.json"),
                       {"lo": lo, "hi": hi, "zones": zones,
                        "committed_at": time.time()})
    return True


def last_compacted_wave(root: str) -> int:
    segs = _committed_segments(root)
    return max((hi for _lo, hi, _p in segs), default=-1)


def read_seen_keys(spark: SparkSession, root: str, up_to_wave: int,
                   buckets: list[int] | None = None,
                   probe_ranges: dict[int, tuple[int, int]] | None = None
                   ) -> DataFrame | None:
    """Exact seen keys with directory-level pruning: committed segments with
    ``hi <= up_to_wave`` serve their wave ranges (one file per bucket), loose
    wave dirs serve the rest (``wave <= up_to_wave`` ignores appends from an
    uncommitted, crashed wave), and when ``buckets`` is given only those
    bucket subdirectories are passed to the reader at all (only the
    bloom-maybe slice's buckets are opened).

    The paths are enumerated HERE (the writer owns the layout) with explicit
    schemas — Spark never lists or infers over the store root, so the
    per-wave read cost is O(selected files), not O(history). An unreadable
    committed file RAISES: swallowing it would silently skip the exact seen
    anti-join for the wave and re-admit already-crawled URLs with no signal
    (ADVICE r03 #2).

    ``probe_ranges`` (optional, {bucket: (min_hash, max_hash)} of the probe
    slice): zone-map pruning over committed segments — a segment bucket
    leaf whose recorded [min, max] url_hash zone (compact_seen_keys writes
    it into _SEG_COMMIT.json) cannot intersect the probe range is skipped
    entirely. Exact for the anti-join consumer: a seen key outside the
    probe's hash range can never equal a probe key, so dropping the leaf
    removes only rows that could not match. Loose wave dirs carry no zones
    and are served unpruned; segments whose marker predates the zones field
    likewise."""

    segs = []
    covered: set[int] = set()
    for lo, hi, p in _committed_segments(root):
        if hi <= up_to_wave and not (covered & set(range(lo, hi + 1))):
            covered.update(range(lo, hi + 1))
            segs.append((lo, hi, p))
    wave_dirs = _seen_wave_dirs(root, up_to_wave, skip_waves=covered)

    def _leafs(parent_dirs: list[str]) -> list[str]:
        if buckets is None:
            return parent_dirs
        out = []
        for d in parent_dirs:
            for b in buckets:
                bd = os.path.join(d, f"bucket={int(b)}")
                if os.path.isdir(bd):
                    out.append(bd)
        return out

    def _seg_leafs(seg_dirs: list[str]) -> list[str]:
        paths = _leafs(seg_dirs)
        if probe_ranges is None or buckets is None:
            return paths
        zone_cache: dict[str, dict | None] = {}

        def _zones(d: str):
            if d not in zone_cache:
                try:
                    with open(os.path.join(d, "_SEG_COMMIT.json")) as f:
                        zone_cache[d] = json.load(f).get("zones")
                except (FileNotFoundError, json.JSONDecodeError):
                    zone_cache[d] = None
            return zone_cache[d]

        out = []
        for bd in paths:
            d, leaf = os.path.split(bd)
            if not leaf.startswith("bucket="):
                out.append(bd)  # whole segment dir (buckets=None upstream)
                continue
            b = int(leaf.split("=")[1])
            zone, pr = (_zones(d) or {}).get(str(b)), probe_ranges.get(b)
            if zone is not None and pr is not None and (
                pr[1] < zone[0] or pr[0] > zone[1]
            ):
                continue  # probe hash range cannot intersect this leaf
            out.append(bd)
        return out

    parts = []
    seg_paths = _seg_leafs([p for _lo, _hi, p in segs])
    if seg_paths:
        parts.append(
            spark.read.option("basePath", _seg_root(root))
            .schema(_SEEN_FILE_SCHEMA + ", seg string, bucket int")
            .parquet(*seg_paths)
            .select("bucket", "url_hash", "canon_url")
        )
    flat_dirs = [p for _w, p in wave_dirs if _is_flat_wave_dir(p)]
    bucketed_dirs = [p for _w, p in wave_dirs if p not in flat_dirs]
    wave_paths = _leafs(bucketed_dirs)
    if wave_paths:
        parts.append(
            spark.read.option("basePath", _seen_root(root))
            .schema(_SEEN_FILE_SCHEMA + ", wave int, bucket int")
            .parquet(*wave_paths)
            .select("bucket", "url_hash", "canon_url")
        )
    if flat_dirs:
        # flat L0 appends: bucket is a data column; the prune is a pushed
        # parquet predicate over bucket-sorted row groups (zone maps) —
        # column-level rather than directory-level, same selectivity
        flat = (
            spark.read.option("basePath", _seen_root(root))
            .schema(_SEEN_FLAT_FILE_SCHEMA + ", wave int")
            .parquet(*flat_dirs)
        )
        if buckets is not None:
            flat = flat.filter(F.col("bucket").isin([int(b) for b in buckets]))
        parts.append(flat.select("bucket", "url_hash", "canon_url"))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def read_log_wave(spark: SparkSession, root: str, name: str, wave: int,
                  schema=None) -> DataFrame:
    """One wave's log directory, read back right after its write — the
    parquet round-trip is the wave's materialization point (building
    block-manager cache batches for the wide entities frame serializes on
    the memory store at high core counts; a partition-parallel parquet
    write + column-pruned re-reads scale). Pass ``schema`` so an empty
    wave (zero parsed rows) reads back as an empty frame instead of
    failing schema inference."""
    d = os.path.join(root, "logs", name, f"wave={wave:05d}")
    return _reader(spark, schema).parquet(d)


def read_log(spark: SparkSession, root: str, name: str,
             up_to_wave: int | None = None, schema=None) -> DataFrame | None:
    """Union of committed per-wave log dirs (≤ the resumed snapshot's wave,
    so logs from an uncommitted, crashed wave are ignored). ``schema``
    skips the inference job when the caller holds the log's schema."""
    log_root = os.path.join(root, "logs", name)
    if not os.path.isdir(log_root):
        return None
    dirs = []
    for entry in sorted(os.listdir(log_root)):
        if not entry.startswith("wave="):
            continue
        w = int(entry.split("=")[1])
        if up_to_wave is not None and w > up_to_wave:
            continue
        dirs.append(os.path.join(log_root, entry))
    if not dirs:
        return None
    return _reader(spark, schema).parquet(*dirs)
