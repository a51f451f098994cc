"""No public operator lets a caller pick a size-gated strategy.

Every broadcast gate, driver/distributed cutoff and bucket-file sizing
decision is taken by the code from a row count or size estimate it
observes, against a module constant read at call time
(``gating.BROADCAST_MAX_ROWS``, ``dedup.DRIVER_MAX_EDGES``,
``graph.PAGERANK_DRIVER_MAX_EDGES``, ``layout.TARGET_FILE_BYTES``).
This walks the public functions of ``functions/*`` and
``sources/layout.py`` and fails if any of them grows a caller-set
override again.  Spark-free: it only inspects signatures.
"""

import importlib
import inspect
import os
import pkgutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_stream_flink_user_address_spark.functions as functions_pkg  # noqa: E402
from data_stream_flink_user_address_spark.sources import layout  # noqa: E402

FORBIDDEN = {
    "force",
    "broadcast_eval",
    "broadcast_spans",
    "broadcast_words",
    "broadcast_rules",
    "broadcast_max_rows",
    "driver_threshold",
    "files_per_bucket",
    "target_file_bytes",
}


def _modules():
    for info in pkgutil.iter_modules(functions_pkg.__path__):
        yield importlib.import_module(f"{functions_pkg.__name__}.{info.name}")
    yield layout


def _public_functions():
    for mod in _modules():
        for name, obj in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
            ):
                yield f"{mod.__name__}.{name}", obj


def test_walk_covers_the_gated_operators():
    names = {n.rsplit(".", 1)[1] for n, _ in _public_functions()}
    assert {
        "size_gated_broadcast",
        "leakage_free_split",
        "cross_corpus_decontaminate",
        "substring_dedup",
        "remove_dup_spans",
        "unigram_lm_encode",
        "filter_robots_allowed",
        "dedup_clusters",
        "connected_components",
        "pagerank",
        "write_bucketed",
    } <= names


def test_no_public_function_takes_a_strategy_option():
    offenders = {
        name: sorted(FORBIDDEN & set(inspect.signature(fn).parameters))
        for name, fn in _public_functions()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, offenders


def test_write_bucketed_always_sorts():
    assert "sort" not in inspect.signature(layout.write_bucketed).parameters
