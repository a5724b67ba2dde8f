"""``tests/slow_tests.txt`` names the tests ``conftest.py`` skips in the
default tier, as ``<file>::<function>[<param id>]``. An entry that no
longer matches a collected test — the test was renamed, moved, or
parametrized (its ids gain a ``[...]`` suffix) — is not an error to
pytest: the test just silently stops being skipped, which can push the
default tier past its time window. This guard fails instead."""

from __future__ import annotations

import ast
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _test_functions(path: str) -> dict[str, bool]:
    """function name -> whether it carries a ``parametrize`` mark, for
    every module-level test function of ``path``."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    out = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test"):
            out[node.name] = any(
                "parametrize" in ast.unparse(d) for d in node.decorator_list
            )
    return out


def test_every_slow_entry_names_an_existing_test():
    stale = []
    with open(os.path.join(HERE, "slow_tests.txt")) as fh:
        entries = [ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")]
    assert entries
    for entry in entries:
        path, _, test = entry.partition("::")
        full = os.path.join(ROOT, path)
        if not os.path.isfile(full):
            stale.append(f"{entry}: no file {path}")
            continue
        name, bracket, _ = test.partition("[")
        funcs = _test_functions(full)
        if name not in funcs:
            stale.append(f"{entry}: no function {name} in {path}")
        elif funcs[name] != bool(bracket):
            stale.append(
                f"{entry}: {name} is {'' if funcs[name] else 'not '}parametrized, "
                f"so the entry {'needs' if funcs[name] else 'must not have'} a [id]"
            )
    assert not stale, "stale tests/slow_tests.txt entries:\n" + "\n".join(stale)
