"""Snapshot checkpoint store — Iceberg-snapshot semantics over Parquet.

The reference checkpoints by flipping Mongo flags + pickling frontier
snapshots (Borges/db_scripts/mongo2pickle.py:5-34); any script re-run
resumes from the flags (Elsevier/paper_index.py:119-138). Here every
fetch round commits an atomic snapshot: per-round Parquet datasets plus
a JSON manifest, with a LATEST pointer written via tmp+rename (atomic on
POSIX). A killed job resumes from the last committed round; data written
for rounds after LATEST is garbage-collected on resume, so a crash
mid-round is invisible.

On a cluster with Iceberg jars this class is swapped for real Iceberg
tables (`MERGE INTO` + snapshot ids); the import-try below keeps that
path open without requiring the jars in this image.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

# The Parquet+manifest protocol below stands in for an Iceberg catalog,
# whose runtime jar is not available, and gives the same commit/resume
# semantics.

# Full-state-per-round datasets vs per-round increments: a time-travel
# read resolves a SNAPSHOT dataset from exactly one committed round and
# an APPEND dataset as the union of every committed increment <= the
# target round. Snapshot datasets of superseded rounds are the only
# files expire_snapshots may reclaim (the Iceberg unreferenced-file
# rule: an append increment stays referenced by every later as-of read).
SNAPSHOT_DATASETS = frozenset({"frontier", "seen_shards"})


class SnapshotStore:
    """frontier_buckets: when set (the default), the frontier dataset is
    committed as a url_hash-BUCKETED external table (Spark bucketed
    parquet — the vanilla-catalog stand-in for an Iceberg table with a
    bucket(url_hash) partition transform). A bucketed frontier makes the
    two per-round frontier-wide joins STORAGE-PARTITIONED: the exact
    seen anti-join and any keyed merge read the frontier scan with NO
    Exchange on the frontier side — at a 10^10-row frontier that removes
    the only per-round full-table shuffles. None disables (plain parquet).
    At 100 TB pick buckets ~ frontier_bytes / 256 MB; the engine aligns
    its per-round delta to the same bucketing so each commit writes at
    most 2 files per bucket."""

    def __init__(self, root: str, frontier_buckets: int | None = 32):
        self.root = root
        self.frontier_buckets = frontier_buckets
        # catalog-safe unique prefix per store root (tables live in the
        # session catalog; two stores in one session must not collide)
        self._digest = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:10]
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _round_dir(self, round_no: int) -> str:
        return os.path.join(self.root, f"r{round_no:06d}")

    def _latest_path(self) -> str:
        return os.path.join(self.root, "LATEST")

    def _frontier_table(self, round_no: int) -> str:
        return f"borges_{self._digest}_r{round_no:06d}_frontier"

    # -- commit protocol -----------------------------------------------
    # Snapshot parquet codec (overridable for A/B via env): snapshots
    # are hot engine state rewritten every round, so the choice trades
    # encoder CPU (scales with cores) against bytes through the shared
    # memory bus / shuffle volume (does not scale on one box). zstd
    # default is measured, not assumed: the round-5 A/B (2 reps, both
    # arms, same generated web) had zstd beating snappy on BOTH arms —
    # 2-core 8.1-9.1k vs 7.5-7.6k urls/s, 8-core 20.8-21.4k vs
    # 16.1-19.0k — because the crawl_log/frontier encode is exactly the
    # copy-bound half of the round: fewer bytes through the bus beats
    # the extra encoder CPU, which the parallel arm absorbs anyway.
    _codec = os.environ.get("BORGES_SNAPSHOT_CODEC", "zstd")

    def write_dataset(self, round_no: int, name: str, df: DataFrame) -> float:
        """Write one dataset of a round (no commit). Returns seconds."""
        t0 = time.time()
        if name == "frontier" and self.frontier_buckets:
            self._write_frontier_bucketed(df, round_no)
        else:
            df.write.mode("overwrite").option("compression", self._codec).parquet(
                os.path.join(self._round_dir(round_no), name)
            )
        return round(time.time() - t0, 2)

    def commit_round(self, round_no: int, dataset_names: list[str], meta: dict | None = None) -> None:
        """Publish a round whose datasets are already written: manifest,
        then the LATEST pointer via tmp+rename (the atomic commit point).
        Rounds MUST commit in order — the engine guarantees it by joining
        round r's deferred writes before committing r+1."""
        rdir = self._round_dir(round_no)
        manifest = {
            "round": round_no,
            "datasets": sorted(dataset_names),
            "counts": {},
            "committed_at": time.time(),
            # recorded so a resume in a fresh session re-registers the
            # bucketed frontier with the bucket count the files were
            # WRITTEN with — a store constructed with a different
            # frontier_buckets would otherwise declare a wrong layout
            # that Spark trusts for shuffle elision (silently wrong joins)
            "frontier_buckets": self.frontier_buckets,
            "meta": meta or {},
        }
        with open(os.path.join(rdir, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(round_no))
        os.replace(tmp, self._latest_path())  # atomic commit point

    def write_snapshot(self, round_no: int, datasets: dict[str, DataFrame], meta: dict | None = None) -> None:
        """Write all datasets for a round, then commit atomically.

        The datasets are independent (shared parents are already cached
        by the engine), so the write jobs run CONCURRENTLY — Spark's
        scheduler interleaves their stages, overlapping each job's
        driver-side planning latency with the others' executor work.
        The commit point (LATEST rename) still happens only after every
        write has finished, so atomicity is unchanged."""
        write_times: dict[str, float] = {}

        def _write(item):
            name, df = item
            return name, self.write_dataset(round_no, name, df)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(datasets)) as pool:
            for name, secs in pool.map(_write, datasets.items()):
                write_times[name] = secs
        self.last_write_times = write_times
        self.commit_round(round_no, sorted(datasets), meta)

    def latest_round(self) -> int | None:
        p = self._latest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, round_no: int) -> dict:
        with open(os.path.join(self._round_dir(round_no), "manifest.json")) as f:
            return json.load(f)

    def _write_frontier_bucketed(self, df: DataFrame, round_no: int) -> None:
        """Commit the frontier as an external bucketed table. No shuffle
        here: the engine hands a frame whose partitions are already
        bucket-aligned (the snapshot scan keeps its bucketing through
        the broadcast anti-join; the round delta was repartitioned by
        the same hash), so each task writes into a single bucket file."""
        spark = df.sparkSession
        tbl = self._frontier_table(round_no)
        path = os.path.join(self._round_dir(round_no), "frontier")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .option("compression", self._codec)
            .option("path", path)
            .bucketBy(self.frontier_buckets, "url_hash")
            .format("parquet")
            .saveAsTable(tbl)
        )

    def read(self, spark: SparkSession, round_no: int, name: str) -> DataFrame:
        path = os.path.join(self._round_dir(round_no), name)
        if name == "frontier" and self.frontier_buckets:
            tbl = self._frontier_table(round_no)
            if not spark.catalog.tableExists(tbl):
                # resume in a fresh session: re-register the external
                # bucketed table over the committed files (bucket ids
                # ride in the file names, so the layout survives). The
                # bucket count comes from the round MANIFEST — the count
                # the files were written with — never from the current
                # store config, which may legitimately differ.
                buckets = self.frontier_buckets
                try:
                    recorded = self.manifest(round_no).get("frontier_buckets")
                    if recorded:
                        buckets = int(recorded)
                except (OSError, ValueError, json.JSONDecodeError):
                    pass  # pre-manifest-field snapshot: trust the config
                schema = spark.read.parquet(path).schema
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                    f"CLUSTERED BY (url_hash) INTO {buckets} BUCKETS "
                    f"LOCATION '{path}'"
                )
            return spark.table(tbl)
        return spark.read.parquet(path)

    # -- time travel / snapshot management -------------------------------
    # The Iceberg snapshot surface (snapshots metadata table, VERSION AS
    # OF reads, rollback, expire_snapshots) re-expressed over the
    # manifest protocol. Reference checkpoint analog:
    # Borges/db_scripts/mongo2pickle.py:5-34 (pickled frontier snapshots
    # — point-in-time state the scripts re-read); these APIs make every
    # committed round such a point, queryable and reclaimable.

    def snapshots(self) -> list[dict]:
        """Committed snapshot metadata, oldest first — the `snapshots`
        metadata-table analog: one manifest dict per committed round
        (round, datasets, committed_at, frontier_buckets, expired,
        meta)."""
        return [self.manifest(r) for r in self.rounds()]

    def read_as_of(self, spark: SparkSession, name: str, round_no: int) -> DataFrame:
        """Time-travel read (`VERSION AS OF round_no`): the dataset as
        of a committed round. Snapshot datasets (frontier, seen_shards)
        resolve to the newest committed copy at or before round_no;
        append datasets (crawl_log, metrics, ...) resolve to the union
        of every committed increment <= round_no — one multi-path
        parquet scan, not a union of plans."""
        latest = self.latest_round()
        if latest is None or round_no > latest:
            raise ValueError(
                f"round {round_no} is not committed (latest: {latest})"
            )
        carrying = [
            r for r in self.rounds()
            if r <= round_no and name in self.manifest(r).get("datasets", [])
        ]
        if not carrying:
            raise ValueError(
                f"no committed '{name}' at or before round {round_no}"
            )
        if name in SNAPSHOT_DATASETS:
            rno = max(carrying)
            if name in self.manifest(rno).get("expired", []):
                raise ValueError(
                    f"'{name}' snapshot of round {rno} was expired; "
                    f"re-run expire_snapshots with a deeper keep_last "
                    f"horizon before it is reclaimed to keep this round "
                    f"time-travelable"
                )
            return self.read(spark, rno, name)
        live = [
            r for r in carrying if name not in self.manifest(r).get("expired", [])
        ]
        if not live:
            raise ValueError(f"every '{name}' increment <= round {round_no} was expired")
        return spark.read.parquet(
            *[os.path.join(self._round_dir(r), name) for r in live]
        )

    def rollback(self, round_no: int, spark: SparkSession | None = None) -> None:
        """Roll the store back to a committed round (Iceberg rollback
        analog): the LATEST pointer moves to round_no via the same
        atomic tmp+rename as a commit, later rounds become uncommitted
        and are GC'd, and their catalog tables are deregistered when a
        session is supplied. A subsequent engine run(resume=True)
        continues from round_no exactly as if later rounds never ran
        (determinism makes the re-crawl bit-identical)."""
        if round_no not in self.rounds():
            raise ValueError(f"round {round_no} is not a committed snapshot")
        # Refuse to roll back onto a round whose live state was already
        # reclaimed by expire_snapshots: moving LATEST there and GC'ing
        # the later rounds would delete the only surviving snapshot
        # copies and leave the store unresumable with no recovery path.
        # Mirrors read_as_of's resolution: each snapshot dataset
        # resolves to its newest committed copy at or before round_no.
        for name in SNAPSHOT_DATASETS:
            carrying = [
                r for r in self.rounds()
                if r <= round_no and name in self.manifest(r).get("datasets", [])
            ]
            if not carrying:
                continue
            rno = max(carrying)
            if name in self.manifest(rno).get("expired", []):
                raise ValueError(
                    f"cannot roll back to round {round_no}: its "
                    f"'{name}' snapshot (round {rno}) was reclaimed by "
                    f"expire_snapshots; the rollback would GC every "
                    f"later live copy and leave the store unresumable"
                )
        later = [r for r in self.rounds() if r > round_no]
        tmp = self._latest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(round_no))
        os.replace(tmp, self._latest_path())
        if spark is not None:
            for r in later:
                spark.sql(f"DROP TABLE IF EXISTS {self._frontier_table(r)}")
        self.gc_uncommitted()

    def expire_snapshots(self, keep_last: int = 1,
                         spark: SparkSession | None = None) -> list[int]:
        """Reclaim superseded full-state snapshot datasets, keeping the
        newest keep_last rounds fully time-travelable (expire_snapshots
        analog). Only SNAPSHOT_DATASETS files are deleted — append
        increments stay referenced by every later as-of read and are
        never reclaimed, so crawl_log/metrics history survives at any
        expiry horizon. Expired rounds keep their manifest with the
        reclaimed names recorded under 'expired' (tmp+rename, crash
        safe), so a time-travel read of a reclaimed snapshot fails with
        a clear error instead of a missing-file scan. Returns the
        rounds whose snapshots were reclaimed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the resume point itself)")
        rounds = self.rounds()
        keep = set(rounds[-keep_last:])
        expired_rounds: list[int] = []
        for r in rounds:
            if r in keep:
                continue
            man = self.manifest(r)
            exp = set(man.get("expired", []))
            todo = [
                n for n in man.get("datasets", [])
                if n in SNAPSHOT_DATASETS and n not in exp
            ]
            if not todo:
                continue
            for n in todo:
                if n == "frontier" and spark is not None:
                    spark.sql(f"DROP TABLE IF EXISTS {self._frontier_table(r)}")
                shutil.rmtree(os.path.join(self._round_dir(r), n), ignore_errors=True)
                exp.add(n)
            man["expired"] = sorted(exp)
            mpath = os.path.join(self._round_dir(r), "manifest.json")
            with open(mpath + ".tmp", "w") as f:
                json.dump(man, f)
            os.replace(mpath + ".tmp", mpath)
            expired_rounds.append(r)
        return expired_rounds

    def compact_dataset(self, spark: SparkSession, round_no: int, name: str,
                        target_bytes: int = 128 << 20) -> dict:
        """Small-file compaction for one committed round's APPEND
        dataset (the rewrite_data_files maintenance op): a round's
        crawl_log/metrics are written by every executor task, so a
        32-core round leaves ~32 small files; at 100 TB the per-round
        file count is what kills the multi-round scan's split planning.
        Rewrites the dataset into ceil(bytes / target_bytes) files,
        validates the row count, then swaps directories (old kept as
        `<name>.pre_compact` until the swap completes). POSIX rename
        cannot atomically replace a non-empty directory, so a crash
        BETWEEN the two renames leaves the live name briefly absent —
        heal_compactions() (run automatically on resume via
        gc_uncommitted and at the start of every compaction) restores
        the preserved original, so no committed data is ever lost.
        The bucketed frontier is refused: its file layout IS the
        storage-partitioned-join contract (the engine already writes
        <= 2 files per bucket; compacting it means rewriting the
        bucketed table, a different op). Records a `compacted` entry
        in the round manifest and returns the before/after stats."""
        if name in SNAPSHOT_DATASETS:
            raise ValueError(
                f"'{name}' is a full-state snapshot dataset (bucketed "
                f"layout is load-bearing); compaction targets append "
                f"datasets only"
            )
        if round_no not in self.rounds():
            raise ValueError(f"round {round_no} is not committed")
        if name not in self.manifest(round_no).get("datasets", []):
            raise ValueError(f"round {round_no} has no dataset '{name}'")
        self.heal_compactions()
        path = os.path.join(self._round_dir(round_no), name)

        def _stats(p):
            files = [
                os.path.join(p, f) for f in os.listdir(p)
                if f.endswith(".parquet") or (f.startswith("part-") and not f.endswith(".crc"))
            ]
            return len(files), sum(os.path.getsize(f) for f in files)

        files_before, bytes_before = _stats(path)
        n_out = max(1, -(-bytes_before // target_bytes))
        df = spark.read.parquet(path)
        n_rows = df.count()
        tmp = path + ".compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            df.repartition(n_out)
            .write.mode("overwrite")
            .option("compression", self._codec)
            .parquet(tmp)
        )
        if spark.read.parquet(tmp).count() != n_rows:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError("compaction row-count mismatch; original kept")
        spark.catalog.clearCache()  # drop any cached scans over the old files
        old = path + ".pre_compact"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        files_after, bytes_after = _stats(path)
        man = self.manifest(round_no)
        man.setdefault("compacted", {})[name] = {
            "files_before": files_before,
            "files_after": files_after,
            "bytes_before": bytes_before,
            "bytes_after": bytes_after,
        }
        mpath = os.path.join(self._round_dir(round_no), "manifest.json")
        with open(mpath + ".tmp", "w") as f:
            json.dump(man, f)
        os.replace(mpath + ".tmp", mpath)
        return man["compacted"][name]

    def heal_compactions(self) -> list[str]:
        """Recover from a crash inside compact_dataset's directory
        swap. Three possible crash states per dataset, all safe:
        leftover `.compact_tmp` only (crash before the swap) — drop
        it; live name MISSING with `.pre_compact` present (crash
        between the two renames) — restore the preserved original;
        both live and `.pre_compact` present (crash after the swap,
        before cleanup) — the validated replacement is live, drop the
        old copy. Returns the restored paths."""
        healed: list[str] = []
        for r in self.rounds():
            rdir = self._round_dir(r)
            for entry in sorted(os.listdir(rdir)):
                p = os.path.join(rdir, entry)
                if entry.endswith(".compact_tmp"):
                    shutil.rmtree(p, ignore_errors=True)
                elif entry.endswith(".pre_compact"):
                    live = os.path.join(rdir, entry[: -len(".pre_compact")])
                    if not os.path.exists(live):
                        os.rename(p, live)
                        healed.append(live)
                    else:
                        shutil.rmtree(p, ignore_errors=True)
        return healed

    def gc_uncommitted(self) -> None:
        """Drop data for rounds after the last committed snapshot, and
        heal any interrupted compaction swap (resume entry point)."""
        self.heal_compactions()
        latest = self.latest_round()
        for entry in os.listdir(self.root):
            if not entry.startswith("r") or not entry[1:].isdigit():
                continue
            rno = int(entry[1:])
            if latest is None or rno > latest:
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

    def rounds(self) -> list[int]:
        latest = self.latest_round()
        if latest is None:
            return []
        out = []
        for entry in sorted(os.listdir(self.root)):
            if entry.startswith("r") and entry[1:].isdigit() and int(entry[1:]) <= latest:
                out.append(int(entry[1:]))
        return out
