from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# One JVM serves the whole suite. With the package's 16 GB default heap
# it grows past a small host's physical memory (the pointer-jumping
# duplicate_groups tests alone push it by ~9 GB) until the kernel kills
# it, and every later test then fails on a refused py4j connection. A
# 4 GB heap makes it collect instead; an explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from fbg_kafka_stream_file_transfer_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
