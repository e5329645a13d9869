"""Driver-build budget: py4j round trips spent BUILDING (not running)
the corpus hot path.

On PySpark 4.1 every ``pyspark.sql.functions``/``Column`` call costs
about 14 py4j round trips (the call plus the active-session lookup, a
conf read and the call-site origin set). Built node by node,
``simhash`` alone took ~12,200 round trips and a 64-row ``local_frame``
~13,500; as SQL text each projection is one call. The guard counts
calls, not seconds, so it is deterministic on any host. py4j's own
garbage-collection messages (released JVM references, sent whenever
Python happens to collect a proxy) are not counted.
"""

from __future__ import annotations

import pytest
from py4j import clientserver, java_gateway

from luma_etl_data_platform_spark.core.localframe import local_frame
from luma_etl_data_platform_spark.operators import dedup as D
from luma_etl_data_platform_spark.operators import pq as PQ
from luma_etl_data_platform_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture
def round_trips(monkeypatch):
    """``round_trips(build)``: the py4j commands sent (from any thread)
    while ``build()`` runs, minus py4j's memory-release messages."""
    sent = [0]
    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        def send(self, command, *args, _orig=cls.send_command, **kwargs):
            if not command.startswith("m\n"):
                sent[0] += 1
            return _orig(self, command, *args, **kwargs)
        monkeypatch.setattr(cls, "send_command", send)

    def count(build) -> int:
        start = sent[0]
        build()
        return sent[0] - start
    return count


def test_corpus_hot_path_build_budget(spark, round_trips):
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    rows = [(m, c, list(range(16))) for m in range(4) for c in range(16)]
    n = {
        "simhash_pairs": round_trips(lambda: D.simhash_pairs(
            docs, "text", "doc_id", persist_signature=False)),
        # builds by training: its seed and update jobs run here too
        "pq_topk trained": round_trips(lambda: PQ.pq_topk(
            emb, query, k=10, codebook="trained")),
        "local_frame 64 rows": round_trips(lambda: local_frame(
            spark, rows, "m int, code int, sub array<bigint>")),
    }
    assert n["simhash_pairs"] <= 400, n
    assert n["pq_topk trained"] <= 400, n
    assert n["local_frame 64 rows"] <= 20, n
