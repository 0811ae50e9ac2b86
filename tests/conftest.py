"""Shared fixtures: corpus loaders, reference library, Spark session."""

from __future__ import annotations

import gzip
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
REFERENCE = Path("/root/reference")
sys.path.insert(0, str(REPO))

TESTDATA = Path("/root/testdata")
SF_SMOKE = str(TESTDATA / "sf0.001")
SF_CORRECT = str(TESTDATA / "sf0.01")


def _load_corpus(name: str) -> np.ndarray:
    """Load a reference C++-generated corpus csv.gz as a structured array."""
    path = REFERENCE / "tests" / name
    if not path.exists():
        pytest.skip(f"corpus {name} not present")
    with gzip.open(path, "rt") as fh:
        header = fh.readline().strip().split(",")
        rows = [line.strip().split(",") for line in fh if line.strip()]
    return header, rows


@pytest.fixture(scope="session")
def encode_corpus():
    """111,600 rows: lat,lon,level,cell_id,token from C++ s2geometry."""
    header, rows = _load_corpus("s2_encode_corpus.csv.gz")
    assert header == ["lat", "lon", "level", "cell_id", "token"]
    lat = np.array([r[0] for r in rows], dtype=np.float64)
    lon = np.array([r[1] for r in rows], dtype=np.float64)
    level = np.array([r[2] for r in rows], dtype=np.int64)
    cell_id = np.array([int(r[3]) for r in rows], dtype=np.uint64)
    token = np.array([r[4] for r in rows], dtype="U16")
    return lat, lon, level, cell_id, token


@pytest.fixture(scope="session")
def decode_corpus():
    """111,600 rows: cell_id,token,lat,lon,level — C++ cell centers."""
    header, rows = _load_corpus("s2_decode_corpus.csv.gz")
    assert header == ["cell_id", "token", "lat", "lon", "level"]
    cell_id = np.array([int(r[0]) for r in rows], dtype=np.uint64)
    token = np.array([r[1] for r in rows], dtype="U16")
    lat = np.array([r[2] for r in rows], dtype=np.float64)
    lon = np.array([r[3] for r in rows], dtype=np.float64)
    level = np.array([r[4] for r in rows], dtype=np.int64)
    return cell_id, token, lat, lon, level


@pytest.fixture(scope="session")
def ref_s2cell():
    """The scalar reference library, imported read-only as the fuzz oracle."""
    sys.path.insert(0, str(REFERENCE))
    import s2cell as ref

    return ref


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("s2cell_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HotSpot won't JIT generated methods >8000 bytecodes while Spark
        # only falls back at 65535 — between the two a fused stage runs
        # interpreted (or worse, deopt-OOMs a 4g test JVM on the native
        # encode stack). Same setting as perfbench/session.py; CLAUDE.md trap.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", "8g")  # native-encode fused stages
        # intermittently deopt-OOM a 4g JVM (JIT scalar-replacement
        # reallocation) — headroom, not a leak
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()
