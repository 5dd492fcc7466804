"""Every shipped plan parses to the same commands: each command's plan
echo (the first report section, ``TnEngine._cmd_echo``) and its input
refs are compared against ``golden/plan_echo.json``.

The golden file pins the parsed surface of ``examples/*.json`` and
``perfbench/plans/*.json``; a change to how a command parses shows up
here before it shows up in a report digest. Regenerate it only for an
intended plan-surface change:

    PYTHONPATH=. python tests/test_plan_echo.py > tests/golden/plan_echo.json
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from topnotch_spark.engine import TnEngine
from topnotch_spark.plans import extensions  # noqa: F401  (registers commands)
from topnotch_spark.plans.model import (
    AssertionCmd,
    DiffCmd,
    ViewCmd,
    command_inputs,
)
from topnotch_spark.plans.parser import EXTENSION_COMMANDS

REPO = Path(__file__).resolve().parent.parent
GOLDEN = Path(__file__).resolve().parent / "golden" / "plan_echo.json"
PLANS = sorted(
    str(p.relative_to(REPO))
    for pattern in ("examples/*.json", "perfbench/plans/*.json")
    for p in REPO.glob(pattern)
)
MODEL = {"assertion": AssertionCmd, "diff": DiffCmd, "view": ViewCmd}


def parse_plan(rel: str) -> list[dict]:
    with open(REPO / rel, encoding="utf-8") as f:
        root = json.load(f)
    out = []
    for obj in root.get("commands", []):
        kind = obj["command"]
        cmd = (
            MODEL[kind].from_json(obj)
            if kind in MODEL
            else EXTENSION_COMMANDS[kind](obj)
        )
        out.append(
            {
                "command": kind,
                "echo": TnEngine._cmd_echo(cmd),
                "inputs": [i.ref for i in command_inputs(cmd)],
            }
        )
    return out


@pytest.mark.parametrize("rel", PLANS)
def test_plan_echo_matches_golden(rel):
    with open(GOLDEN, encoding="utf-8") as f:
        golden = json.load(f)
    assert rel in golden, f"{rel} has no golden entry"
    assert parse_plan(rel) == golden[rel]


def test_golden_covers_every_plan():
    with open(GOLDEN, encoding="utf-8") as f:
        assert sorted(json.load(f)) == PLANS


if __name__ == "__main__":
    golden = {rel: parse_plan(rel) for rel in PLANS}
    print(json.dumps(golden, indent=1, sort_keys=True))
