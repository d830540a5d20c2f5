"""The library's one pin policy: every frame an operator or driver
query materializes and hands on — per-round state in driver-looped
algorithms (PageRank, BFS levels, transitive closure, connected
components), the range partitioning of ``stats.range_cumsum`` (and so
``ids.dense_ids``), and the shared inputs of returned query frames —
goes through ``pin_iteration``. A pin cuts the lineage (which otherwise
grows the plan every round — for self-joining loops Catalyst analysis
goes EXPONENTIAL in rounds) and materializes once so later consumers
don't recompute it. There are two mechanisms with different
failure/lifecycle trades, and the right one depends on the
deployment, not the algorithm:

- ``localCheckpoint``: blocks are UNREPLICATED and lineage is gone —
  on a real cluster, losing any executor mid-algorithm fails the
  query unrecoverably. On local[n] that's free: executor loss means
  the JVM died anyway, and blocks are released by the ContextCleaner
  when the frame is garbage-collected (no unpersist bookkeeping).
- reliable ``checkpoint``: blocks go to the checkpoint directory
  (HDFS/object store on a cluster) — lineage is cut AND the state
  survives executor loss. Costs a write to stable storage per round.
  RETENTION: Spark never deletes reliable checkpoint files for the
  lifetime of the application unless
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
  false) — a deep loop (PageRank/BFS/closure over many rounds)
  accumulates O(rounds × state-size) files in the checkpoint dir.
  Cluster deploys using auto/checkpoint mode should set that conf
  (the ContextCleaner then removes each round's files once the frame
  is garbage-collected) or point the checkpoint dir at
  lifecycle-managed storage (e.g. an object-store prefix with an
  expiry rule).

``persist`` is deliberately not a mode: it does not cut the plan (the
exponential-analysis hazard above), and its CacheManager entries
outlive the algorithm, since ``range_cumsum`` and ``dense_ids`` hand
back a derived frame, not the pinned one to release.

``pin_iteration`` picks by ``spark.razulibs.iterPin``:

- ``auto`` (default): ``localCheckpoint`` on a local master;
  reliable ``checkpoint`` on a cluster with a checkpoint dir. A
  cluster WITHOUT a checkpoint dir raises — a silent fallback to
  localCheckpoint loses the query on executor loss, so the deploy must
  either ``sc.setCheckpointDir(...)`` or force a mode it understands.
- ``localCheckpoint`` / ``checkpoint``: forced. Any other value,
  ``persist`` included, raises (a typo must not silently hand back the
  fault-intolerant default the operator tried to opt out of).

Caches outside this policy are scoped — persisted and unpersisted in
the same function: ``graph.pagerank``/``triangle_count``/
``bfs_levels``, ``text.bpe_train``, ``dedup.connected_components``,
``stats.pca_top_component``, ``queries.graph_pagerank`` and the docs
frame of ``plans/sip.assemble_sip`` — plus ``assemble_sip``'s
returned ``manifest``, which its caller owns and unpersists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MODES = ("localCheckpoint", "checkpoint")


def resolve_pin_mode(
    conf_value: str, master: str, has_checkpoint_dir: bool
) -> str:
    """Pure policy decision (unit-testable without a cluster): map the
    ``spark.razulibs.iterPin`` value + deployment facts to a mode."""
    if conf_value == "auto":
        # "local" / "local[n]" / "local[n,f]" only — NOT
        # "local-cluster[...]", which runs real separate executor JVMs
        # where localCheckpoint's unreplicated blocks can be lost on
        # executor failure (the exact hazard auto mode routes around).
        if master == "local" or master.startswith("local["):
            return "localCheckpoint"
        if has_checkpoint_dir:
            return "checkpoint"
        raise ValueError(
            "spark.razulibs.iterPin=auto on a non-local master requires "
            "a checkpoint directory (sc.setCheckpointDir on shared "
            "storage) for fault-tolerant iteration state. Set one, or "
            "force spark.razulibs.iterPin=localCheckpoint (fast; query "
            "dies on executor loss)."
        )
    if conf_value not in _MODES:
        raise ValueError(
            f"spark.razulibs.iterPin={conf_value!r} is not one of "
            f"auto|{'|'.join(_MODES)}"
        )
    return conf_value


def pin_iteration(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize one iteration's state per the deployment policy
    (module docstring). Local-mode default is ``localCheckpoint`` —
    identical to the historical hard-coded behavior."""
    spark = df.sparkSession
    sc = spark.sparkContext
    mode = resolve_pin_mode(
        spark.conf.get("spark.razulibs.iterPin", "auto"),
        sc.master,
        sc._jsc.sc().getCheckpointDir().isDefined(),
    )
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
