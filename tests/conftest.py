from __future__ import annotations

import os

import pytest

from cdcrypt.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # One task thread per usable core (capped at the former 8): on a 4-core
    # host, 8 threads each feeding its own Python worker oversubscribe the CPU
    # and slow every UDF-heavy test. Shuffle partitions stay 8.
    cores = min(8, len(os.sched_getaffinity(0)))
    s = get_spark("cdcrypt-tests", master=f"local[{cores}]", shuffle_partitions=8)
    yield s
    s.stop()
