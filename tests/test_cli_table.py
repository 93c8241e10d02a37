"""Spark-free tests for the CLI command table (``cli.COMMANDS``): every
subcommand parses ``--help``, every handler sits behind the one error
boundary, and README names every subcommand."""

import re
from pathlib import Path

import pytest

from ts_etl_spark import cli

README = Path(__file__).resolve().parent.parent / "README.md"

#: the fewest arguments each subcommand's parser accepts
MINIMAL_ARGS = {
    "ingest": ["landing", "corpus", "ckpt"],
    "seen-admit": ["index", "1"],
    "bm25-rebuild": ["corpus", "lexicon"],
    "ann-rebuild": ["corpus", "index"],
    "len-hdr-rebuild": ["corpus", "hdr"],
    "compact-state": ["--corpus", "corpus"],
    "drift-report": ["--drift", "drift"],
    "sem-train": ["docs", "cents"],
    "curate": ["sf", "out"],
    "sql": ["select 1"],
    "optimize": ["in", "out"],
    "profile": ["table"],
    "pack": ["in", "out"],
    "chunk": ["in", "out"],
    "split": ["in", "out"],
    "shard": ["in", "out"],
    "explain": ["list"],
}


#: name -> (argv, the run_* function its handler calls)
CALLS = {
    k: ([k, *args], "run_" + k.replace("-", "_")) for k, args in MINIMAL_ARGS.items()
}
CALLS["conversion"] = (["csv", "json", "in.csv"], "run_conversion_path")


def test_minimal_args_cover_the_table():
    assert set(MINIMAL_ARGS) == set(cli.COMMANDS)


@pytest.mark.parametrize("name", sorted(cli.COMMANDS))
def test_help_exits_zero_with_its_usage(name, capsys):
    with pytest.raises(SystemExit) as exit_:
        cli.main([name, "--help"])
    assert exit_.value.code == 0
    assert capsys.readouterr().out.startswith(f"usage: ts-etl-spark {name}")


@pytest.mark.parametrize("name", sorted(CALLS))
def test_handler_error_reaches_the_boundary(name, capsys, monkeypatch):
    argv, target = CALLS[name]

    def boom(*a, **kw):
        raise RuntimeError("planted")

    monkeypatch.setattr(cli, target, boom)
    assert cli.main(argv) == 1
    assert f"Error during {name}: planted" in capsys.readouterr().err


def test_readme_names_every_subcommand():
    text = README.read_text()
    start = text.index("  cli.py ")
    listing = text[start:text.index("subcommands", start)]
    named = set(re.findall(r"[\w-]+", listing))
    assert sorted(set(cli.COMMANDS) - named) == []
