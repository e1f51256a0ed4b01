"""The one pin policy: every mid-plan checkpoint in the package goes
through this module.

A frame read by N plan branches re-runs its whole lineage up to N times
unless AQE's exchange reuse happens to deduplicate the branches. Pinning
it — a ``localCheckpoint`` — truncates the plan to an RDD leaf that every
branch reads instead. Two helpers, one per kind of pin:

* :func:`materialize` for **fan-out**: a frame with two or more consumers
  (per-key aggregates, bounded grids, candidate-pair frames, the input of
  a rank pass). ``SPARK_GRAFT_NO_MAT=1`` turns it into the identity, so
  plan inspection (the registry-wide lint in ``tests/test_plan_lint.py``,
  the plan-shape tests) sees the full lineage; rows are the same either
  way (``tests/test_mat.py``).
* :func:`materialize_loop` for **fixpoint state**: the per-round state of
  an iterative loop whose round r is built on round r-1 (star contraction
  in ``dedup.connected_components``, the Newton–Schulz steps of
  ``zca_whitening_newton_schulz``). It pins even under NO_MAT, because
  without truncation such a plan grows exponentially with the round
  count.

Every pin is **lazy** (``eager=False``): its blocks are written inside
the first action that needs them and shared by every later stage. No pin
spends a job of its own while the query is being built, although under
AQE building the checkpoint's ``executedPlan`` still runs the shuffle-map
stages of its lineage at build time. Because the pin is lazy, the
pinned lineage's inputs must still exist at the query's first action.

Every pin is **MEMORY_AND_DISK**: blocks that outgrow the storage pool
spill to disk instead of evicting other blocks or failing an executor.
The blocks die with the query's DataFrame (ContextCleaner; session.py's
periodic GC reclaims them in long-lived sessions), and they do not
survive executor loss: a failed query is recomputed from its inputs.

Pin only bounded or already-reduced frames, or frames the query reads
several times anyway: the trade is the space of one copy for N-1 lineage
passes. Outside this module no package code calls ``localCheckpoint`` or
``checkpoint`` (``tests/test_mat.py::test_only_mat_checkpoints``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Pinned explicitly (it is also localCheckpoint's default) so that
# spilling is part of this module's contract, not an upstream default.
_LEVEL = StorageLevel.MEMORY_AND_DISK

# Set to any value to make materialize() the identity (plan inspection).
_DISABLE_ENV = "SPARK_GRAFT_NO_MAT"


def materialize(df: DataFrame) -> DataFrame:
    """Lazily localCheckpoint ``df`` so N consumer branches share ONE
    computation of its lineage (see module docstring)."""
    if os.environ.get(_DISABLE_ENV):
        return df
    return df.localCheckpoint(eager=False, storageLevel=_LEVEL)


def materialize_loop(df: DataFrame) -> DataFrame:
    """Checkpoint an iterative fixpoint's per-round state — ALWAYS.

    Unlike :func:`materialize`, this is NOT disabled by
    ``SPARK_GRAFT_NO_MAT``: a loop whose round r is built on round r-1
    (star contraction in ``dedup.connected_components``, the
    Newton–Schulz steps of ``zca_whitening_newton_schulz``) grows its plan
    tree exponentially without truncation (each round references its
    input several times), so "restore full lineage" is not a meaningful
    mode for it — a 6-edge toy input already takes ~45 s to plan and the
    driver dies on real inputs. Plan-lint visibility is preserved anyway:
    round 1's input is un-truncated under NO_MAT, so every operator shape
    in the loop body appears in full in round 1's plan; later rounds
    repeat the same operators."""
    return df.localCheckpoint(eager=False, storageLevel=_LEVEL)

