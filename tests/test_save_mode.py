"""``io/save_mode.save_output`` on its own, with plain-file writers: how a
write meets an output that another writer puts at its path meanwhile,
and which paths it refuses. No Spark session is started."""

from __future__ import annotations

from pathlib import Path

import pytest

from evolution_spark.io.save_mode import _rename_in, save_output


def _write(p, name):
    Path(p).mkdir(parents=True, exist_ok=True)
    (Path(p) / name).write_text(name)


def _tree(d):
    return sorted(str(p.relative_to(d)) for p in Path(d).rglob("*"))


@pytest.mark.parametrize("rival", ["output", "claim"])
@pytest.mark.parametrize("save_mode", ["error", "append", "ignore", "overwrite"])
def test_rival_output_made_during_a_create_survives(tmp_path, save_mode, rival):
    """The path was absent when the write began, and another writer put an
    output there while this one's ``create`` ran (files, or the still-empty
    dir of a writer that creates in place): every mode raises, the rival's
    dir stays as it was, and no hidden sibling is left."""
    out = tmp_path / "out"

    def create(p):
        out.mkdir()
        if rival == "output":
            _write(out, "rival")
        _write(p, "mine")

    with pytest.raises(ValueError, match="output exists"):
        save_output(str(out), save_mode, create, lambda p: _write(p, "appended"))
    assert _tree(tmp_path) == ["out"] + (["out/rival"] if rival == "output" else [])


def test_create_in_place_holds_the_path(tmp_path):
    """A write in place (not relocatable, as Iceberg) claims the absent path
    before its ``create`` runs, so a second writer is refused, not merged
    into it."""
    out = tmp_path / "out"
    refused = []

    def create(p):
        with pytest.raises(ValueError, match="output exists"):
            save_output(str(out), "error", lambda q: _write(q, "rival"), relocatable=False)
        refused.append(True)
        _write(p, "mine")

    save_output(str(out), "error", create, relocatable=False)
    assert refused == [True]
    assert _tree(tmp_path) == ["out", "out/mine"]


def test_rename_in_refuses_a_filled_claim(tmp_path):
    """The new output does not replace a claim that another writer filled;
    the new output is left for the caller to remove."""
    new, out = tmp_path / ".new", tmp_path / "out"
    _write(new, "mine")
    _write(out, "rival")
    with pytest.raises(ValueError, match="output exists"):
        _rename_in(new, out)
    assert _tree(out) == ["rival"]
    assert _tree(new) == ["mine"]


@pytest.mark.parametrize("path", ["file:///{}/out", "file:{}/out", "hdfs://nn{}/out"])
def test_uri_paths_are_refused_before_any_write(tmp_path, monkeypatch, path):
    """Output paths are local paths: a URI is refused before ``create``
    runs and before any directory is made (``Path`` would read
    ``file:///x`` as the relative ``file:/x``)."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="not a URI"):
        save_output(path.format(tmp_path), "error", lambda p: _write(p, "mine"))
    assert _tree(tmp_path) == []
