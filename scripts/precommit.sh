#!/usr/bin/env bash
# Pre-commit gate for the graded query surface (VERDICT r04 task 8).
#
# Runs four cheap structural guards:
#   1. scripts/replay_driver.py --check-manifest  — Spark-side row
#      count + result sha256 of EVERY queries() entry at sf0.01
#      against tests/replay_manifest.json (no DuckDB; ~minutes).
#   2. the extract_text golden-byte hashes + entry-shape audits —
#      the input_hint per-row invariant and the bounded-collect gate —
#      and the ROLLUP/CUBE plan shape (two pandas merges, no Union, no
#      job at call time; plans only).
#   3. tests/test_surface.py — every package def has a caller outside
#      tests/ (static AST scan, no Spark, ~2 s).
#   4. tests/test_wire_bytes.py — pinned sketch wire bytes (the
#      version-2 pins of the counter tables among them), the version-1
#      counter-table decode fixtures and the sparse-size guard, all
#      decoded through sketches.from_bytes (no Spark, ~3 s).
#
# Install:  ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
# Skip (for docs-only commits):  git commit --no-verify
set -euo pipefail
# readlink -f: resolve the .git/hooks/pre-commit symlink back to
# scripts/ so the repo-root cd works when invoked as a hook.
cd "$(dirname "$(readlink -f "$0")")/.."

echo "[precommit] 1/4 replay manifest check (Spark-only, sf0.01)"
python scripts/replay_driver.py --check-manifest

echo "[precommit] 2/4 golden text hashes + entry-shape audits + grouping-set plans"
python -m pytest -x -q \
    tests/test_text_and_webpages.py::test_extract_text_golden_hashes \
    tests/test_entry_shapes.py \
    tests/test_rollup.py::test_grouping_sets_are_one_lazy_plan

echo "[precommit] 3/4 package surface reachability (static, no Spark)"
python -m pytest -q tests/test_surface.py

echo "[precommit] 4/4 pinned wire bytes, v1 decode fixtures, sparse-size guard (no Spark)"
python -m pytest -q tests/test_wire_bytes.py

echo "[precommit] OK"
