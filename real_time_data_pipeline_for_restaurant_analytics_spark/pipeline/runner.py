"""Three-layer pipeline orchestration (SURVEY §2.6 O1-O3, §3.1).

Mirrors the reference's procedure chain:

    RUN_FINAL_FOR_YESTERDAY()            → run_for_date()
      FINAL_PROCEDURE(stage_path)        → run_all()
        <ENTITY>_MAIN_PROCEDURE(file)    → run_entity()
           COPY INTO stage               → ledger-gated stage append
           MERGE INTO clean  (SCD1)      → merge_upsert snapshot rewrite
           MERGE INTO dim    (SCD2)      → apply_scd2 snapshot rewrite

Stream-offset semantics (C1/C2): the "stream" a layer consumes is the
batch the previous layer just produced, and the ledger guarantees a
file is staged exactly once — together they give the same
exactly-once property Snowflake's transactional streams provide
(SURVEY §3.1). The consumption layer additionally exposes a
standard-stream style change feed via SnapshotTable.read_previous +
operators.merge.change_feed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import hash_key
from ..operators.merge import Scd2Config, apply_scd2, latest_per_key, merge_upsert
from ..sources.ledger import FileLedger
from ..sources.paths import entity_file
from ..sources.readers import read_stage_csv, read_stage_json
from .entities import ENTITIES, RUN_ORDER, EntitySpec


@dataclass
class Warehouse:
    """Path layout: <root>/{stage,clean,consumption}/<table>."""

    root: str

    def stage_dir(self, entity: str) -> str:
        return os.path.join(self.root, "stage", entity)

    def ledger(self, entity: str) -> FileLedger:
        return FileLedger(os.path.join(self.root, "stage", entity, "_ledger.jsonl"))

    def clean(self, entity: str):
        from ..sources.snapshot import SnapshotTable

        return SnapshotTable(os.path.join(self.root, "clean"), entity)

    def dim(self, entity: str):
        from ..sources.snapshot import SnapshotTable

        suffix = "_fact" if ENTITIES[entity].scd1_only else "_dim"
        return SnapshotTable(os.path.join(self.root, "consumption"), entity + suffix)


def _read_source(spark: SparkSession, spec: EntitySpec, path: str) -> DataFrame:
    if spec.ext == "json":
        return read_stage_json(spark, path, spec.source_columns)
    return read_stage_csv(spark, path, spec.source_columns)


def _write_counted(tbl, df: DataFrame) -> int:
    """Write ``df`` as the table's next snapshot and return its row
    count, observed inside the write job."""
    obs = Observation()
    tbl.write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def merge_entity_batch(
    spark: SparkSession,
    wh: Warehouse,
    spec: EntitySpec,
    raw: DataFrame,
    batch_ts,
    checkpoint: bool | str = False,
) -> dict:
    """The shared clean→dedup→latest-per-key→SCD1→SCD2 merge body —
    ONE implementation behind both drivers (batch :func:`run_entity`
    and streaming ``merge_microbatch``), so a semantics change lands
    in exactly one place (the "one library, two drivers" invariant
    SURVEY §7/M5 calls for).

    Returns ``{"clean_rows", "dim_rows"}``: the row counts of the new
    clean and dim/fact snapshots, observed (``DataFrame.observe``)
    inside the two write jobs — no extra job counts them.

    ``checkpoint`` materializes the typed batch once so the clean and
    dim merges below don't each re-derive it from the source:

    - ``True`` → ``localCheckpoint`` — a LINEAGE BREAK, required in
      foreachBatch where the micro-batch source cannot be re-read by
      the merge's multiple scans. Costs one eager materialization job
      up front.
    - ``"fork"`` → ``localCheckpoint`` + CONCURRENT clean and dim
      merges (guide §2.6 — round 14). The two merges share no state
      (different snapshot tables, different writer locks) and both
      consume only the typed batch, so they commute; at replay scale
      their cost is job latency, not data, and overlapping them cuts
      the per-entity critical path from stage→clean→dim to
      stage→max(clean, dim). The eager checkpoint pins the batch
      BEFORE the fork: ``latest_per_key``'s row_number can break
      order ties arbitrarily, and two concurrent first actions on a
      merely-persisted frame could each compute their own tie-break —
      the checkpoint makes both merges read the same materialized
      rows (day-2 phase measured 3.2 s → 2.3 s at sf0.1,
      bench_logs/day2_probe.txt).
    """
    # --- clean: typed transform + guarded SCD1 merge (C3)
    typed = spec.clean(raw)
    if spec.dedup_source:
        typed = typed.dropDuplicates()  # C6 (`delivery_agent_proc.sql:140-154`)
    order_cols = (
        [F.col(spec.modified_col).desc_nulls_last(), F.col(spec.created_col).desc_nulls_last()]
        if spec.modified_col and spec.created_col
        else [F.lit(1)]
    )
    typed = latest_per_key(typed, spec.key, order_cols)  # C7 guard
    if checkpoint:  # True or "fork": eager lineage-break checkpoint
        typed = typed.localCheckpoint()

    def _merge_clean() -> int:
        clean_tbl = wh.clean(spec.name)
        prev_clean = clean_tbl.read(spark)
        attrs = [c for c in typed.columns if c not in spec.key]
        return _write_counted(clean_tbl, merge_upsert(prev_clean, typed, spec.key, attrs))

    def _merge_dim() -> int:
        # --- consumption: SCD2 dim (C4) or SCD1 fact (C5)
        dim_tbl = wh.dim(spec.name)
        hk_name = f"{spec.name}_hk"
        with_hk = typed.withColumn(hk_name, hash_key(*spec.key, *spec.scd2_attrs))
        if spec.scd1_only:
            prev_fact = dim_tbl.read(spark)
            return _write_counted(
                dim_tbl, merge_upsert(prev_fact, with_hk, spec.key, spec.scd2_attrs)
            )
        else:
            prev_dim = dim_tbl.read(spark)
            cfg = Scd2Config(
                key=spec.key,
                attrs=spec.scd2_attrs,
                created_col=spec.created_col,
                first_start_from_created=True,
            )
            return _write_counted(dim_tbl, apply_scd2(prev_dim, with_hk, cfg, batch_ts))

    if checkpoint == "fork":
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut = pool.submit(_merge_clean)
            dim_rows = _merge_dim()
            clean_rows = fut.result()
    else:
        clean_rows = _merge_clean()
        dim_rows = _merge_dim()
    return {"clean_rows": clean_rows, "dim_rows": dim_rows}


def run_entity(
    spark: SparkSession,
    wh: Warehouse,
    spec: EntitySpec,
    file_path: str,
    batch_ts=None,
    checkpoint: bool | str = False,
) -> dict:
    """<ENTITY>_MAIN_PROCEDURE (O1): COPY → SCD1 → SCD2, idempotent.

    A loaded entity reports ``clean_rows``/``dim_rows``, the post-load
    COUNT(*) sanity probes (A1, `02 Location Entity.sql:50,83`). Like
    Snowflake's metadata-answered counts they cost no job: both are
    observed inside the clean and dim write jobs.

    ``checkpoint`` materializes the typed batch once after the dedup
    guard instead of re-parsing the stage file for each of the clean
    and dim merges — ``True`` via localCheckpoint (an extra eager
    job), ``"fork"`` via localCheckpoint + concurrent stage/clean/dim
    jobs — see :func:`merge_entity_batch`)."""
    batch_ts = batch_ts if batch_ts is not None else F.current_timestamp()
    ledger = wh.ledger(spec.name)
    todo = ledger.unprocessed([file_path]) if os.path.exists(file_path) else []
    if not todo:
        return {"entity": spec.name, "staged_files": 0, "skipped": True}

    # --- stage: raw text rows + audit columns, append-only (S5/C1).
    # The append is keyed by the source file's FINGERPRINT partition
    # (path+size+mtime hash) with dynamic overwrite, so a crash
    # between this write and ledger.mark makes the retry OVERWRITE its
    # own partition instead of appending the file's rows twice (review
    # r8: the stage layer is the COPY-INTO analogue the ledger calls
    # exactly-once, and a mark-crash retry was permanently duplicating
    # it). A MODIFIED file has a new fingerprint → a new partition, so
    # legitimate reloads still append a new version. The fingerprint
    # is the DECISION-TIME one the ledger captured (ADVICE r9): a
    # second stat here could see content appended since unprocessed()
    # decided, tagging the partition with a fingerprint mark() never
    # records — the retry-overwrite key and the ledger would diverge.
    import hashlib

    fp = ledger.pending_fingerprint(file_path)
    ingest_tag = hashlib.md5(
        f"{fp['path']}|{fp['size']}|{fp['mtime']}".encode()
    ).hexdigest()
    raw = _read_source(spark, spec, file_path)

    def _stage_write() -> None:
        (
            raw.withColumn("_ingest_fp", F.lit(ingest_tag))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_ingest_fp")
            .parquet(os.path.join(wh.stage_dir(spec.name), "data"))
        )

    if checkpoint == "fork":
        # the stage append and the merges share no state (the merges
        # read the SOURCE file, not the staged parquet), so overlap
        # them too (guide §2.6); the join() below keeps ledger.mark
        # strictly after the stage write — the exactly-once contract
        # is unchanged
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_stage_write)
            rows = merge_entity_batch(spark, wh, spec, raw, batch_ts, checkpoint=checkpoint)
            fut.result()
    else:
        _stage_write()
        rows = merge_entity_batch(spark, wh, spec, raw, batch_ts, checkpoint=checkpoint)

    ledger.mark(todo)
    return {"entity": spec.name, "staged_files": len(todo), "skipped": False, **rows}


def run_all(
    spark: SparkSession,
    wh: Warehouse,
    stage_prefix: str,
    batch_ts=None,
    checkpoint: bool | str = False,
    parallel: bool = False,
) -> list[dict]:
    """FINAL_PROCEDURE (O2): fan-out over the ten entities.

    Default is the reference's FIXED sequential order
    (`final_proc.sql:17-41`). ``parallel=True`` submits the entity
    loads from a thread pool instead: every entity owns disjoint
    state (its own ledger, stage dir, clean and dim snapshot tables;
    the snapshot writer lock is per-table) and the reference chain
    has no cross-entity reads during a load, so the loads commute —
    the sequential order is an artifact of Snowflake's procedural
    CALL syntax, not a data dependency. On a real cluster this is
    how a daily multi-entity load should run (independent jobs
    overlap their shuffle/write stages instead of serializing ~4
    fixed-overhead jobs per entity); Spark's scheduler interleaves
    concurrent actions from multiple driver threads. Results come
    back in RUN_ORDER either way.
    """
    def one(name: str) -> dict:
        spec = ENTITIES[name]
        path = entity_file(stage_prefix, spec.source_file_stem, spec.ext)
        return run_entity(
            spark,
            wh,
            spec,
            path,
            batch_ts=batch_ts,
            checkpoint=checkpoint,
        )

    if parallel:
        from concurrent.futures import ThreadPoolExecutor

        # one slot per entity (round 15): the old cap of 8 pushed the
        # LAST two RUN_ORDER entities — login_audit is among the
        # heaviest — into a second wave behind freed slots, extending
        # the critical path (A/B ×4 at sf0.1: q145 min 7.78 → 6.55 s).
        # Entity loads are job-latency-bound here, so full overlap is
        # right; a cluster with real data contention would re-bound
        # this by executor headroom (guide §2.6).
        with ThreadPoolExecutor(max_workers=min(len(RUN_ORDER), 16)) as pool:
            return list(pool.map(one, RUN_ORDER))
    return [one(name) for name in RUN_ORDER]


def run_for_date(spark: SparkSession, wh: Warehouse, stage_root: str, today=None) -> list[dict]:
    """RUN_FINAL_FOR_YESTERDAY (O3, `task_proc.sql:6-28`)."""
    from ..sources.paths import yesterday_path

    return run_all(spark, wh, os.path.join(stage_root, yesterday_path(today)))
