from __future__ import annotations

import os
import tempfile

import pytest

from retail_sales_data_pipeline_spark import storage
from retail_sales_data_pipeline_spark.session import get_spark
from retail_sales_data_pipeline_spark.storage_s3 import S3Storage
from tests.fake_s3 import DiskS3Server

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # keep bucketed-table tests out of the repo dir
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture()
def s3env(tmp_path, monkeypatch):
    """A running disk-backed fake S3 with bucket ``lake``, the adapter
    registered for ``s3://``, and the Spark data plane mapped onto the
    store's backing directory."""
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test-key")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test-secret")
    root = str(tmp_path / "objstore")
    os.makedirs(root)
    server = DiskS3Server(root).start()
    server.make_bucket("lake")
    s3 = S3Storage(endpoint_url=server.endpoint, page_size=3)

    def mapper(uri: str) -> str:
        assert uri.startswith("s3://")
        return os.path.join(root, uri[len("s3://"):])

    monkeypatch.setitem(storage._REGISTRY, "s3", s3)
    monkeypatch.setitem(storage._SPARK_MAPS, "s3", mapper)
    yield {"server": server, "s3": s3, "root": root}
    server.shutdown()
