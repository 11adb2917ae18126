from __future__ import annotations

import contextlib
import json
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from datapipeline_template_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    spark = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_confs={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def torn_json_dump(monkeypatch):
    """Context manager under which ``json.dump`` writes the first few
    characters of its output and then raises — a crash mid-dump."""

    def dump(obj, fp, *args, **kwargs):
        fp.write(json.dumps(obj)[:8])
        raise OSError("simulated crash mid-dump")

    @contextlib.contextmanager
    def tear():
        with monkeypatch.context() as m:
            m.setattr(json, "dump", dump)
            yield

    return tear
