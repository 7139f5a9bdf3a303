"""Private-import ratchet: the package's relative imports of private
(underscore) names may only shrink.

Every relative ``from … import _name`` in the package is collected as
an (importing module, private name) pair and must appear in
``ALLOWED`` below. A new private cross-module import fails this test;
removing one is always allowed — delete its entry here with it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = (
    Path(__file__).resolve().parents[1] / "metadata_ingestion_poc_spark"
)

# importing module (dotted, relative to the package) -> private names
ALLOWED: dict[str, set[str]] = {
    "operators.classify": {"_half_up", "_spread"},
    "operators.clustering": {"_half_up", "_spread"},
    "operators.coverage": {"_spread"},
    "operators.fuzzy": {"_spread"},
    "operators.graph": {"_cut", "_cut_lazy", "_half_up"},
    "operators.histogram": {"_half_up"},
    "operators.multimodal": {
        "_chunk_pairs_sql", "_chunked_members", "_spread",
    },
    "operators.opq": {"_checked_base", "_half_up"},
    "operators.pca": {"_checked_base", "_half_up"},
    "operators.pq": {"_checked_base", "_half_up"},
    "operators.robust": {"_half_up", "_spread"},
    "operators.similarity": {"_spread"},
    "operators.sketches": {"_spread"},
    "operators.text": {"_spread"},
    "queries.analytics4": {"_spread"},
    "queries.analytics6": {
        "_CHUNK_S", "_CHUNK_W", "_CUST_LAT", "_CUST_LON", "_quant",
        "_sup_points",
    },
    "queries.analytics7": {"_HASH_MOD", "_HASH_MULT", "_half_up", "_spread"},
    "queries.analytics8": {
        "_HASH_MOD", "_HASH_MULT", "_half_up", "_spread", "_spread_by",
    },
    "queries.curation": {"_shingle_index", "_spread"},
    "queries.curation2": {"_spread"},
    "queries.llm_ops2": {
        "_chunk_pairs_sql", "_chunked_members", "_spread",
    },
    "streaming.joins": {"_with_watermark"},
}


def _private_imports() -> set[tuple[str, str]]:
    pairs = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level > 0:
                pairs.update(
                    (module, alias.name)
                    for alias in node.names
                    if alias.name.startswith("_")
                )
    return pairs


def test_private_imports_only_shrink():
    allowed = {(m, n) for m, names in ALLOWED.items() for n in names}
    new = sorted(_private_imports() - allowed)
    assert not new, f"private cross-module imports not in ALLOWED: {new}"
