"""One-stream-runner lint.

Every replayed streaming query starts and awaits its stream through
``workdir.run_stream``, so the checkpoint layout, the availableNow
trigger and the query name that tags each micro-batch's jobs exist
once. This lint keeps the hand-copied ``writeStream…start()`` /
``awaitTermination()`` blocks from coming back: in the engine package
``writeStream`` may be used only by ``run_stream`` and by the traffic
pipeline (whose started query perfbench awaits itself), and
``awaitTermination`` only by ``run_stream`` and by the traffic e2e
query that awaits that pipeline. Docstrings are not code, so usage
examples in them do not count.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "spark_stream_kudu_spark"

# attribute -> {(module path under the package, top-level function)}
ALLOWED = {
    "writeStream": {
        ("streaming/workdir.py", "run_stream"),
        ("streaming/traffic.py", "run_traffic_pipeline"),
    },
    "awaitTermination": {
        ("streaming/workdir.py", "run_stream"),
        ("streaming/queries.py", "stream_traffic_pipeline"),
    },
}


def _uses(tree: ast.Module):
    """(attribute, enclosing top-level def or class name or None, line)
    for every guarded attribute in the module."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in ALLOWED:
                yield node.attr, owner, node.lineno


def test_streams_start_only_in_the_runner():
    failures = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for attr, owner, line in _uses(ast.parse(path.read_text(), str(path))):
            if (rel, owner) not in ALLOWED[attr]:
                failures.append(
                    f"{rel}:{line}: {attr} in {owner or 'module scope'}; "
                    "run the stream through workdir.run_stream"
                )
    assert not failures, "\n".join(failures)


def test_allowed_sites_still_exist():
    """A renamed runner must not leave the allow-list pointing at
    nothing (the lint would then pass vacuously)."""
    found = set()
    for attr, sites in ALLOWED.items():
        for rel, owner in sites:
            tree = ast.parse((PKG / rel).read_text())
            if any(a == attr and o == owner for a, o, _ in _uses(tree)):
                found.add((attr, rel, owner))
    missing = {
        (attr, rel, owner)
        for attr, sites in ALLOWED.items()
        for rel, owner in sites
    } - found
    assert not missing, f"allow-listed sites no longer use the attribute: {missing}"
