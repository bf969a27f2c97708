from __future__ import annotations

import os

import pytest

# Test-session core count. The Tier-1 verify command (ROADMAP.md) exports
# SPARK_GRAFT_CPUS=$(nproc), so this default applies only to a bare
# `pytest tests/`. Measured round 12 on a 32-core host: the heavy data-parallel files (pipeline e2e,
# property tests) run 1.7x faster at 8 cores (277 -> 164 s) while the
# parity-dominated light set still improves (332 -> 304 s); 16 cores adds
# nothing (305 s) because tiny-frame stages then pay more per-stage task
# bookkeeping.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = "/root/testdata/sf0.001"


def pytest_report_collectionfinish(config, start_path, items):
    # the session the `spark` fixture builds: get_spark() defaults master
    # and shuffle partitions to SPARK_GRAFT_CPUS. Printed after collection
    # rather than as a report header, which `-q` suppresses.
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    return f"spark: local[{cpus}], spark.sql.shuffle.partitions={cpus}"


@pytest.fixture(scope="session")
def spark():
    from morphik_core_spark.session import get_spark

    spark = get_spark(app_name="morphik_core_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
