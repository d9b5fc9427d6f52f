"""Selectable lineage-cut tiers behind every ``materialize=`` site —
DEPLOY.md's checkpoint-tier rule as BEHAVIOR, not a hand-rolled recipe
(VERDICT r13 #2).

Three tiers, one argument:

- ``True`` / ``"local"`` (default): ``localCheckpoint()`` — eager,
  TRUE lineage truncation (the clean-plan audits depend on it; persist
  alone leaves the pushdown-de-canonicalized exchanges in the plan),
  blocks live on EXECUTORS only.  An executor loss / dynamic-allocation
  decommission after construction fails every downstream action
  unrecoverably.  The right default when the cut relation is
  ANSWER-SIZED: re-running the whole query on a rare loss is cheaper
  than reliable-checkpoint I/O on every run.
- ``"reliable"``: ``persist(MEMORY_AND_DISK)`` + ``count()`` — eager
  and RECOMPUTABLE: lineage is retained, so a lost block is rebuilt
  from source instead of failing the action.  The price is plan
  hygiene (static plan dumps show the full retained tree) and a
  CacheManager entry the CALLER releases (``result.unpersist()``)
  when done — persist blocks are not GC-managed the way
  localCheckpoint blocks are.  The tier for clusters with expected
  executor churn (aggressive spot/dynamic allocation), where the
  corpus-sized re-run a lost localCheckpoint forces is the thing
  being avoided.
- ``False`` / ``None``: no cut — the fully lazy plan (composition /
  plan inspection; callers own any persistence).

Iterative operators (pagerank / k-core / BFS / funnels) use
:func:`cut_lineage_round` inside their loops: the local tier cuts with
a LAZY localCheckpoint (materialized by the next action, the existing
behavior), the reliable tier persists and TRACKS the handle so the
operator can release every intermediate once the final relation is
materialized — a loss mid-loop then recomputes through retained
lineage instead of failing.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = [
    "cut_lineage",
    "cut_lineage_round",
    "cut_corpus_lineage",
    "drop_cut",
    "release",
    "ReliableCheckpointSweeper",
]

# bool is accepted for backward compatibility at every site; the
# strings select the tier explicitly.
MaterializeMode = "bool | str | None"


def _bad_mode(mode) -> ValueError:
    return ValueError(
        "materialize must be True/'local' (localCheckpoint — answer-"
        "sized default), 'reliable' (persist MEMORY_AND_DISK + count — "
        "recomputable under executor churn), or False/None (lazy); "
        f"got {mode!r}"
    )


def cut_lineage(df: DataFrame, mode) -> DataFrame:
    """Eagerly cut (or keep) ``df``'s lineage per the tier above —
    the FINAL cut of an operator's lifecycle."""
    if mode is False or mode is None:
        return df
    if mode is True or mode == "local":
        return df.localCheckpoint()
    if mode == "reliable":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        return out
    raise _bad_mode(mode)


def cut_lineage_round(
    df: DataFrame,
    mode,
    handles: list[DataFrame],
    eager: bool = False,
) -> DataFrame:
    """Per-round cut inside an iterative loop.  Local tier:
    ``localCheckpoint(eager=eager)`` (GC-managed, the pre-r14
    behavior).  Reliable tier: persist tracked in ``handles`` for
    :func:`release` after the final cut; ``eager=True`` counts now
    (rounds whose emptiness gates the loop need it)."""
    if mode is False or mode is None:
        return df
    if mode is True or mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        handles.append(out)
        if eager:
            out.count()
        return out
    raise _bad_mode(mode)


def cut_corpus_lineage(df: DataFrame, mode, eager: bool = True) -> DataFrame:
    """CORPUS-sized tier — the LDA/polyLDA trainers' lineage cuts
    (static corpus once, carried γ/β per iteration), where the
    answer-sized tradeoff inverts: recomputing a lost corpus-sized
    localCheckpoint block means re-running the whole training job, so
    DEPLOY.md's rule for preemptible/dynamic-allocation clusters is a
    RELIABLE ``checkpoint()`` to the session's checkpoint directory
    (HDFS/object store), not persist+count (which would double memory
    pressure on the largest relations and still die with the
    executor).

    - ``True`` / ``"local"`` (default): ``localCheckpoint()`` — the
      fast path for stable executors (no checkpoint-dir I/O per cut).
      ``eager=False`` leaves it to the first action that reads the
      cut, so a per-iteration relation is computed once, inside the
      job that consumes it.
    - ``"reliable"``: eager ``checkpoint()`` — requires
      ``spark.sparkContext.setCheckpointDir(...)`` (refused loudly
      otherwise); every cut survives executor loss, so a preempted
      node costs one task retry instead of the whole training run.
    - ``False`` / ``None``: no cut (plan inspection only — an EM loop
      without lineage cuts replans quadratically).
    """
    if mode is False or mode is None:
        return df
    if mode is True or mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "corpus_checkpoint='reliable' requires a checkpoint "
                "directory (HDFS/object store on a cluster): call "
                "spark.sparkContext.setCheckpointDir(...) first"
            )
        return df.checkpoint()
    raise _bad_mode(mode)


class ReliableCheckpointSweeper:
    """Deterministic reclamation of SUPERSEDED reliable-checkpoint
    generations — the disk half of the corpus tier's fault-tolerance
    story.

    Spark never deletes reliable checkpoint files on its own:
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    false, and even when enabled deletion rides driver GC of the RDD
    reference — timing a long EM run cannot rely on.  Without
    intervention every per-iteration γ/β ``checkpoint()`` leaves a
    corpus-scale ``rdd-*`` directory on the checkpoint store for the
    life of the application: at D=10¹⁰ docs, K=100 the γ table alone
    is ~8 TB PER ITERATION of dead files.

    - :meth:`cut` delegates to :func:`cut_corpus_lineage`; in reliable
      mode it additionally reads the new cut's ``rdd-*`` directory
      straight off the returned plan (``LogicalRDD.rdd
      .getCheckpointFile`` — exact even under concurrent checkpoints
      elsewhere in the session; a Hadoop ``globStatus`` directory diff
      is the fallback when that internal read fails), remembers it
      under ``slot``, and queues the slot's PREVIOUS generation for
      deletion.  Deletion itself goes through Hadoop ``FileSystem`` —
      portable to HDFS/object stores.
    - :meth:`sweep` deletes everything queued.  Trainers call it at
      the TOP of each iteration (and once after the loop): by then
      every relation of the just-finished iteration is materialized in
      its own checkpoint, so nothing can reference the superseded
      generation.  Deleting at supersede time instead would be wrong —
      within an iteration, relations built BEFORE the newer cut (the
      persisted E-step ``out``) can still re-read the older files on
      task retry or persist eviction.

    Slot-less cuts (``slot=None`` — the one-time corpus/η cuts) and
    non-reliable modes pass straight through untracked; the final
    generation of every slot is intentionally retained (it backs the
    DataFrames the trainer returns; it is reclaimed with the
    application's checkpoint directory).  One sweeper serves one
    sequential trainer loop; with exact plan-level attribution (the
    normal path) concurrent trainers in the same session cannot
    cross-delete each other's generations — only the globStatus
    FALLBACK path retains that single-writer assumption.
    """

    def __init__(self, spark):
        self._spark = spark
        self._slots: dict[str, list[str]] = {}
        self._pending: list[str] = []

    def _fs(self):
        """(Hadoop FileSystem, checkpoint-dir URI) — None, None when
        no checkpoint dir is set (non-reliable modes never need it)."""
        ckpt_dir = self._spark.sparkContext.getCheckpointDir()
        if ckpt_dir is None:
            return None, None
        path = self._spark._jvm.org.apache.hadoop.fs.Path(ckpt_dir)
        fs = path.getFileSystem(self._spark._jsc.hadoopConfiguration())
        return fs, ckpt_dir

    def _rdd_dirs(self) -> set:
        fs, ckpt_dir = self._fs()
        if fs is None:
            return set()
        glob = self._spark._jvm.org.apache.hadoop.fs.Path(
            ckpt_dir.rstrip("/") + "/rdd-*"
        )
        statuses = fs.globStatus(glob)
        if statuses is None:
            return set()
        return {s.getPath().toString() for s in statuses}

    @staticmethod
    def _checkpoint_file(df: DataFrame) -> "str | None":
        """EXACT attribution: a checkpointed Dataset's analyzed plan is
        a LogicalRDD over the checkpointed RDD, whose
        ``getCheckpointFile`` is the very ``rdd-*`` directory this cut
        wrote — immune to concurrent checkpoints elsewhere in the
        session (the directory-diff fallback below is not)."""
        try:
            opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            if opt.isDefined():
                return opt.get()
        except Exception:  # noqa: BLE001 — internal-API read; fall back
            pass
        return None

    def cut(self, df: DataFrame, mode, slot: "str | None" = None,
            eager: bool = True) -> DataFrame:
        if mode != "reliable" or slot is None:
            return cut_corpus_lineage(df, mode, eager)
        before = self._rdd_dirs()
        out = cut_corpus_lineage(df, mode)
        exact = self._checkpoint_file(out)
        created = [exact] if exact else sorted(self._rdd_dirs() - before)
        if created:  # defensively keep the old generation if neither
            # attribution found the new directory (never observed; a
            # wrongly deleted live generation would fail the run, a
            # kept dead one only costs disk)
            self._pending.extend(self._slots.get(slot, ()))
            self._slots[slot] = created
        return out

    def retire(self, slot: str) -> None:
        """Queue ``slot``'s live generation for the next sweep, once
        everything that reads it has been cut in turn."""
        self._pending.extend(self._slots.pop(slot, ()))

    def sweep(self) -> None:
        """Best-effort: a failed delete (transient object-store error,
        permissions) must never abort the training run it is cleaning
        up after — the directory is retried at the next sweep, and a
        directory that stays undeletable only costs disk."""
        if not self._pending:
            return
        fs, _ = self._fs()
        retry: list[str] = []
        for uri in self._pending:
            try:
                fs.delete(
                    self._spark._jvm.org.apache.hadoop.fs.Path(uri), True
                )
            except Exception:  # noqa: BLE001 — hygiene, not correctness
                retry.append(uri)
        self._pending[:] = retry


def drop_cut(df: "DataFrame | None") -> None:
    """Free the blocks under a local/reliable cut now, not at driver GC
    (a checkpointed Dataset's analyzed plan is the LogicalRDD over the
    cut RDD); an uncut frame passes untouched."""
    if df is None:
        return
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def release(handles: list[DataFrame]) -> None:
    """Unpersist every tracked per-round handle (reliable tier only —
    the local tier tracks nothing).  Safe after the final relation is
    materialized: its blocks survive, and a later loss recomputes
    through the retained lineage."""
    for h in handles:
        h.unpersist()
    handles.clear()
