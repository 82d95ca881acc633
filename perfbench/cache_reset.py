"""Reset of the engine's module-level artifact caches.

Six dicts hold session-scoped index artifacts (kNN graph, HNSW build, BPE
merges, HNSW descent, fitted quantizers, quality classifier). The cold
index-build workload clears all of them before every op so each op builds
its index from the parquet scan; `discover()` lets a test fail when a new
module-level `_*CACHE` dict appears that `CACHES` does not cover.
"""

from __future__ import annotations

import importlib
import pkgutil
import re

PACKAGE = "kol_bigdata_realtime_analytics_spark"

#: (module, attribute) of every module-level artifact cache
CACHES = (
    (f"{PACKAGE}.plans.llm_ops", "_KNN_GRAPH_CACHE"),
    (f"{PACKAGE}.plans.llm_ops", "_HNSW_BUILD_CACHE"),
    (f"{PACKAGE}.plans.llm_ops", "_BPE_MERGE_CACHE"),
    (f"{PACKAGE}.plans.hnsw_search", "_DESCEND_CACHE"),
    (f"{PACKAGE}.operators.similarity", "_FIT_CACHE"),
    (f"{PACKAGE}.plans.quality_model", "_QC_CACHE"),
)

_CACHE_NAME = re.compile(r"^_\w*CACHE$")


def cache_dicts() -> list[dict]:
    return [getattr(importlib.import_module(m), a) for m, a in CACHES]


def clear_all() -> None:
    for d in cache_dicts():
        d.clear()


def entries() -> int:
    """Total entries over all six caches."""
    return sum(len(d) for d in cache_dicts())


def discover() -> dict[str, dict]:
    """Every module-level dict named `_*CACHE` in the engine package, as
    {"module.attr": dict}."""
    pkg = importlib.import_module(PACKAGE)
    found = {}
    for info in pkgutil.walk_packages(pkg.__path__, prefix=f"{PACKAGE}."):
        mod = importlib.import_module(info.name)
        for attr, val in vars(mod).items():
            if _CACHE_NAME.match(attr) and isinstance(val, dict):
                found[f"{info.name}.{attr}"] = val
    return found
