"""Registry output-schema contract: every cell the harness hashes
must be SCALAR. The external driver's canonicalizer sorts a pandas
frame over all output columns and hard-errors on unhashable list
cells (`TypeError: unhashable type: 'list'`), so a complex-typed
output column is a harness contract violation even when the values
are correct. Complement: tools/check.py's canon() raises on
list/tuple/dict cells, so the local mirror never accepts more than
the driver.
"""

from __future__ import annotations

import pytest

from metadata_ingestion_poc_spark.queries import QUERIES

_COMPLEX = ("array", "map", "struct")


def test_no_complex_types_in_any_registered_output(registry_schema):
    """Build every registered query's DataFrame and reject ArrayType /
    MapType / StructType output columns. Schema-only (nothing is
    collected beyond what query construction itself materializes)."""
    bad: dict[str, dict[str, str]] = {}
    for name in QUERIES:
        offenders = {
            f.name: f.dataType.simpleString()
            for f in registry_schema(name).fields
            if f.dataType.simpleString().startswith(_COMPLEX)
        }
        if offenders:
            bad[name] = offenders
    assert not bad, (
        "complex-typed output cells (scalarize with array_join / "
        f"to_json): {bad}"
    )


def test_mirror_canon_rejects_complex_cells():
    from tools.check import canon

    assert canon(True) == "1"
    assert canon(3) == "3"
    with pytest.raises(TypeError, match="complex-typed"):
        canon([1, 2])
    with pytest.raises(TypeError, match="complex-typed"):
        canon(("a",))
    with pytest.raises(TypeError, match="complex-typed"):
        canon({"k": 1})


def test_round6_chain_exposure_only_ever_shrinks():
    """Ratchet on the q276 hazard class: ROUND(·,6) over a non-exact,
    non-transcendental chain is the expression shape that diverges
    across engine VERSIONS (q276/q297/q293 diverged that way until they
    moved to exact emissions). New oracles must
    not grow the exposure — prefer exact integer pairs / FLOOR
    micro-grids / raw single divisions (functions/determinism.py);
    lower the pin when migrating more. Text-level classification
    (tools/float_audit.py), no Spark session needed."""
    from tools.float_audit import _select_items, classify

    from metadata_ingestion_poc_spark.queries import ORACLES

    n = sum(
        1
        for sql in ORACLES.values()
        for expr in _select_items(sql).values()
        if classify(expr) == "round6-chain"
    )
    assert n <= 163, (
        f"round6-chain oracle expressions grew to {n} (> pinned 163): "
        "emit exact cells instead, or consciously re-pin with a "
        "justification in SCALING.md"
    )
