"""Docs-consistency gate (VERDICT r8 item 7): COVERAGE.md is the
builder's own index of the registry — a stale query name there costs
the next reader grep time and erodes trust in the map. Every
backticked snake_case token whose leading segment matches a registry
family must resolve to either a real registry entry or a real function
definition in the package (API names like ``cdc_apply_txn`` are
legitimately cited alongside their query twins)."""

from __future__ import annotations

import os
import re

from datapipelinerepo_spark.registry import REGISTRY
import datapipelinerepo_spark.registry_ext  # noqa: F401

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "datapipelinerepo_spark")


def _package_defs() -> set[str]:
    defs: set[str] = set()
    for dirpath, _, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                defs.update(
                    re.findall(r"^\s*(?:def|class)\s+([A-Za-z_]\w*)",
                               fh.read(), re.M)
                )
    return defs


def test_coverage_md_names_resolve():
    with open(os.path.join(_ROOT, "COVERAGE.md")) as fh:
        text = fh.read()
    prefixes = {n.split("_")[0] for n in REGISTRY}
    tokens = set(re.findall(r"`([a-z][a-z0-9]*(?:_[a-z0-9]+)+)`", text))
    candidates = {
        t for t in tokens
        if t.split("_")[0] in prefixes and t not in REGISTRY
    }
    unresolved = sorted(candidates - _package_defs())
    assert not unresolved, (
        "COVERAGE.md cites names that are neither registry entries nor "
        f"package definitions (stale docs): {unresolved}"
    )
