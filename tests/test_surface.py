"""Public surface guard: every top-level function or class in
``paddleocr_spark/`` is either named by production code or listed in
``KEEP`` with the reason it stays.

"Named" is a word match (``\\bname\\b``) in any caller file: ``jobs/``,
``perfbench/``, ``tools/``, ``bench.py``, ``__spark_entry__.py``, the
package's other modules (``__init__`` re-exports do not count), and the
defining module outside the definition itself. ``tests/`` never counts.
Private (``_``-prefixed) names are not scanned. A definition that only
its own tests reach is deleted with those tests, or kept here with a
one-line reason; a ``KEEP`` entry that gains a caller or disappears must
leave the list.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "paddleocr_spark"

KEEP = {
    "typed_diffs": "Arrow type-family parity check test_driver_contract applies to every oracle row",
    "unsortable_columns": "container-column check test_driver_contract applies to every oracle row",
    "hard_nms": "reference NMS port (picodet_postprocess.py), pinned by test_nms and a property test",
    "containment_dedup": "reference group-containment rule, pinned by test_nms; per-doc form of containment_suppress",
    "ctc_greedy_decode": "reference CTCLabelDecode port that the FIXTURES.md §5 ctc_fixture pairs pin",
    "register_sql": "spark.sql entry to the detect stage (SELECT detect_blocks(html)), a library surface",
    "start_server": "in-process serving entry on an ephemeral port; main() runs the same handler in the foreground",
    "cojoin": "read half of write_bucketed: the shuffle-free bucketed join test_bucketed pins",
    "read_labels_tsv": "reference SimpleDataSet label-file source (simple_dataset.py)",
    "read_wet": "read half of the --wet-out export; the WET round-trip probe reads it",
    "fetch_records": "read half of build_cdx: byte-range fetch of WARC records by url",
    "add_column": "warehouse schema evolution: a metadata-only commit, no data rewrite",
    "rename_column": "warehouse schema evolution: rename by field id, no data rewrite",
    "drop_column": "warehouse schema evolution: projection-only drop, no data rewrite",
    "batch_frontier": "one-shot truth the frontier stream tests compare the incremental store against",
}


def _caller_texts() -> list[str]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("jobs", "perfbench", "tools"):
        files += (ROOT / d).rglob("*.py")
    return [f.read_text() for f in files if f.is_file()]


def unnamed_definitions() -> dict[str, str]:
    """{name: 'module:line'} of public top-level definitions no caller names."""
    modules = {p: p.read_text() for p in sorted(PKG.rglob("*.py"))}
    callers = _caller_texts()
    found = {}
    for path, src in modules.items():
        lines = src.splitlines()
        others = [
            s for q, s in modules.items() if q != path and q.name != "__init__.py"
        ]
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            start = min([d.lineno for d in node.decorator_list] + [node.lineno])
            own_rest = "\n".join(lines[: start - 1] + lines[node.end_lineno :])
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(word.search(t) for t in [own_rest, *others, *callers]):
                found[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
    return found


def test_every_test_only_definition_has_a_reason():
    unlisted = {n: loc for n, loc in unnamed_definitions().items() if n not in KEEP}
    assert not unlisted, (
        "delete these with their tests, give them a production caller, "
        f"or add them to KEEP with a reason: {unlisted}"
    )


def test_keep_lists_only_test_only_definitions():
    stale = sorted(set(KEEP) - set(unnamed_definitions()))
    assert not stale, f"these have a caller now, or are gone: drop them from KEEP: {stale}"
