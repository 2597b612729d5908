"""Run a kNN test body on both evaluators of ``generic_knn_join``.

Toy-sized joins always fit the one-pass evaluator, so a property test that
only runs the default plan never reaches the cell-ring loop.  Loop over
:data:`EVALUATORS` and wrap each join in :func:`knn_evaluator` to check the
same expectation on both."""

from __future__ import annotations

import contextlib

import pytest

from locus_spark.plans import knn as knn_plan

EVALUATORS = ("brute", "ring")


@contextlib.contextmanager
def knn_evaluator(name: str, n_targets: int, k: int):
    """Force the one-pass evaluator (``"brute"``) or the ring loop for the
    joins planned inside, and check on exit that the last one took it.  A
    join with ``k >= n_targets`` runs one-pass whatever the constant."""
    with pytest.MonkeyPatch.context() as mp:
        if name == "ring":
            mp.setattr(knn_plan, "BRUTE_MAX_PAIRS", 0)
        yield
    took = knn_plan.LAST_ROUND_EVALUATORS
    if name == "brute" or k >= n_targets:
        assert took == ["brute"]
    else:
        assert took and "brute" not in took
