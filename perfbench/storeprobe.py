"""Storage-layer probe for the traced run: a timing ``BlobStore`` wrapper.

It is handed to ``hydrate`` through its public ``store_factory`` argument, so
the engine's own get path runs unchanged inside it. Calls, bytes and seconds
are counted with Spark accumulators, which the Python workers update and the
driver reads after each job. Puts are not wrapped (``apply_cdc_batch`` takes
no store factory); the benchmark counts them from the blob directory.
"""

from __future__ import annotations

import time

from kafka_connect_claim_check_smt_spark.config import ClaimCheckConfig
from kafka_connect_claim_check_smt_spark.storage.base import BlobStore
from kafka_connect_claim_check_smt_spark.storage.factory import make_store


class TimedStore(BlobStore):
    def __init__(self, inner: BlobStore, calls, nbytes, seconds):
        self.inner = inner
        self.parallel_io = inner.parallel_io  # keep the engine's I/O strategy
        self._calls, self._bytes, self._seconds = calls, nbytes, seconds

    def url_for(self, key: str) -> str:
        return self.inner.url_for(key)

    def put(self, key: str, data: bytes) -> str:
        return self.inner.put(key, data)

    def get(self, url: str) -> bytes:
        t0 = time.perf_counter()
        data = self.inner.get(url)
        self._seconds.add(time.perf_counter() - t0)
        self._calls.add(1)
        self._bytes.add(len(data))
        return data

    def close(self) -> None:
        self.inner.close()


class StoreProbe:
    """Owns the accumulators; ``factory`` is what ``hydrate`` receives."""

    def __init__(self, sc, cfg: ClaimCheckConfig):
        self.cfg = cfg
        self.calls = sc.accumulator(0)
        self.bytes = sc.accumulator(0)
        self.seconds = sc.accumulator(0.0)

    def factory(self):
        cfg, calls, nbytes, seconds = self.cfg, self.calls, self.bytes, self.seconds
        return lambda: TimedStore(make_store(cfg), calls, nbytes, seconds)

    def read(self) -> dict:
        return {"get_calls": self.calls.value, "get_bytes": self.bytes.value, "get_s": self.seconds.value}
