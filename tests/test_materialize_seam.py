"""Every eager checkpoint in the package goes through one seam,
``operators.scale.materialize``: no other module may call
``.localCheckpoint(`` or ``.checkpoint(`` itself."""

from __future__ import annotations

import ast
from pathlib import Path

import serverless_podcast_etl_spark

PACKAGE = Path(serverless_podcast_etl_spark.__file__).parent
SEAM = PACKAGE / "operators" / "scale.py"


def _checkpoint_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]


def test_checkpoints_only_in_the_seam():
    offenders = {
        str(path.relative_to(PACKAGE)): lines
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != SEAM and (lines := _checkpoint_calls(path))
    }
    assert not offenders, (
        f"eager checkpoints outside operators/scale.py: {offenders} — "
        "call operators.scale.materialize instead"
    )
    assert _checkpoint_calls(SEAM), "the seam itself lost its checkpoints"
