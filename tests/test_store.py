"""The shared store base of the streaming maintainers
(``streaming/store.py``): corrupt state fails loudly, a torn parameter
pin does not brick the store, and the layout lives in one module."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest

STREAMING_DIR = (
    Path(__file__).resolve().parents[1] / "datapipeline_template_spark" / "streaming"
)


def _garble_parts(ds: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(ds):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
                n += 1
    return n


def test_corrupt_pair_and_flag_stores_raise(spark, tmp_path):
    """A drained pair store whose parquet files are garbage must raise
    on read, never serve an empty result as if nothing had drained."""
    from datapipeline_template_spark.streaming.lsh import IncrementalLsh

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "entirely different words appear in this one")],
        "doc_id long, text string",
    )

    lsh = IncrementalLsh(str(tmp_path / "lsh"))
    lsh.process_batch(docs, batch_id=0)
    assert lsh.pairs(spark).count() >= 1
    assert _garble_parts(str(tmp_path / "lsh" / "pairs")) >= 1

    with pytest.raises(Exception):
        lsh.pairs(spark).count()


def test_torn_parameter_pin_reopens(spark, tmp_path, monkeypatch):
    """A crash halfway through writing the parameter pin must leave a
    store the next maintainer can open and drain."""
    from datapipeline_template_spark.operators.sketch import kmv_sketch
    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    def torn_dump(obj, fp, *args, **kwargs):
        text = json.dumps(obj)
        fp.write(text[: len(text) // 2])
        raise OSError("crash mid-dump")

    store = str(tmp_path / "kmv_store")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        IncrementalKmv(store, group_col="g", value_col="v", k=8)
    monkeypatch.undo()

    inc = IncrementalKmv(store, group_col="g", value_col="v", k=8)
    batch = spark.createDataFrame(
        [("a", v) for v in range(20)] + [("b", v) for v in range(3)],
        "g string, v long",
    )
    inc.process_batch(batch, batch_id=0)
    got = {r["g"]: list(r["kmv"]) for r in inc.sketches(spark).collect()}
    want = {
        r["g"]: list(r["kmv"])
        for r in kmv_sketch(batch, "g", "v", k=8).collect()
    }
    assert got == want and set(got) == {"a", "b"}


def test_store_layout_lives_only_in_store_module():
    """Only ``streaming/store.py`` spells the marker directory or
    drives ``foreachBatch``, and only ``BatchStore`` defines the
    marker, commit and drive methods."""
    owned = {"run_available_now", "_commit", "_marker"}
    for path in sorted(STREAMING_DIR.glob("*.py")):
        src = path.read_text()
        if path.name != "store.py":
            assert "_commits" not in src, path.name
            assert ".foreachBatch(" not in src, path.name
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ClassDef) and node.name != "BatchStore":
                defined = {
                    f.name
                    for f in node.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
                assert not defined & owned, (path.name, node.name)
