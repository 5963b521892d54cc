"""bench.py's command line, parsed without starting Spark."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_arguments_runs_every_headline_entry(bench):
    ns = bench.parse_args([])
    assert ns.families is None and ns.headline == bench.HEADLINE


def test_families_match_name_prefixes_exactly(bench):
    assert any(n.startswith("ann_graph_") for n in bench.HEADLINE)
    ns = bench.parse_args(["--families", "graph_,q0"])
    assert ns.families == ("graph_", "q0")
    assert ns.headline == [
        n for n in bench.HEADLINE if n.startswith("graph_") or n.startswith("q0")
    ]
    assert ns.headline and not any("ann_graph" in n for n in ns.headline)


@pytest.mark.parametrize(
    "argv", [["--families"], ["--families", "no_such_family_"], ["--bogus"]]
)
def test_bad_command_line_is_a_usage_error(bench, argv, capsys):
    with pytest.raises(SystemExit) as e:
        bench.parse_args(argv)
    assert e.value.code == 2
    assert "usage:" in capsys.readouterr().err
