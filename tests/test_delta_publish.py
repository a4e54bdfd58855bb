"""The Delta log publisher: a version file appears whole and only once.

Spark-free: ``_publish_commit`` is driven directly against a hand-made
``_delta_log``.
"""

import json

import pytest

from evolution_spark.io.delta_log import _log_versions, _publish_commit


def test_failed_publish_leaves_no_version_and_retry_succeeds(tmp_path):
    log = tmp_path / "t" / "_delta_log"
    log.mkdir(parents=True)
    (log / f"{0:020d}.json").write_text(
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        + "\n"
    )
    with pytest.raises(TypeError):
        # json cannot encode an object(): the publish fails mid-way
        _publish_commit(log.parent, 1, [{"add": {"path": object()}}], "WRITE")
    assert _log_versions(log) == [0]
    assert sorted(p.name for p in log.iterdir()) == [f"{0:020d}.json"]

    good = [{"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}]
    _publish_commit(log.parent, 1, good, "WRITE")
    assert _log_versions(log) == [0, 1]
    v1 = (log / f"{1:020d}.json").read_text()
    lines = [json.loads(ln) for ln in v1.splitlines()]
    assert [next(iter(a)) for a in lines] == ["commitInfo", "add"]
    assert lines[0]["commitInfo"]["operation"] == "WRITE"

    # the version is taken now: a second publish is refused, the winner's
    # commit stays as it was and no temp file is left behind
    with pytest.raises(RuntimeError, match="concurrent commit detected"):
        _publish_commit(log.parent, 1, [{"protocol": {}}], "WRITE")
    assert (log / f"{1:020d}.json").read_text() == v1
    assert sorted(p.name for p in log.iterdir()) == [
        f"{0:020d}.json", f"{1:020d}.json"
    ]
