"""The benchmark's workloads: the registry queries one pass submits.

Each workload is a fixed query mix from one OpenSeizureDatabase
lifecycle.  A run submits every query of the mix once per pass, in an
order drawn from the run's seed; the seed changes nothing else.  The
mixes are cut from the full lifecycle lists (README.md) so that one run,
with its session set-up, fits the benchmark's per-run time budget while
each mix still loads the layer it was chosen for, and so that a run's
median falls among several passes: ``iterate_write``'s pinned loop alone
starts some 45 jobs and takes 3-4 s a pass.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # detector replay, feature extraction and batch inference: each plan
    # crosses the Arrow boundary (MapInPandas, FlatMapGroupsInPandas,
    # ArrowEvalPython)
    "detect_train": (
        "n31_osd_replay",
        "c9_fft_features",
        "c14_welch_psd",
        "m9_batch_inference",
        "m16_rf_inference",
    ),
    # an iterative pinned loop with a driver-side finisher, and a lake
    # schema merge written to a temp dir: build-time jobs and the write
    # path
    "iterate_write": (
        "v15_dbscan_grid",
        "d12_schema_merge",
    ),
}
