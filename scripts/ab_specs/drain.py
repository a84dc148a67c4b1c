"""The bounded drains' fixed costs: the three drains of the benchmark's
``stream_stateful`` workload (one case each), run as the benchmark runs
them (registry builder, then a noop write of the result). ``--data``
may also be a table set written by ``perfbench/datagen.py``.

* ``parent``: ``_drain`` as it was before the FileSystem-based
  checkpoint manager and the state-store cap (session-default manager,
  state partitions as asked, 8 by default).
* ``manager``: the FileSystem-based checkpoint manager, partitions as asked.
* ``change``: the registered ``_drain`` (manager, and state partitions
  capped at the core count).
"""

from __future__ import annotations

import uuid

from ab import query
from kawa_spark import registry
from kawa_spark.queries import streaming_mode
from kawa_spark.session import FS_CHECKPOINT_MANAGER, scoped_conf

KEYS = [
    "stream_exec_tumbling",
    "stream_exec_dedup_watermark",
    "stream_exec_rate_limit",
]


def _uncapped_drain(manager: bool):
    """``_drain`` without the state-store cap, with or without the
    FileSystem-based checkpoint manager."""

    def drain(df, spark, mode="append", state_partitions=8):
        name = f"q_{uuid.uuid4().hex[:10]}"
        conf = dict(FS_CHECKPOINT_MANAGER) if manager else {}
        if state_partitions is not None:
            conf["spark.sql.shuffle.partitions"] = str(state_partitions)
        with scoped_conf(spark, conf):
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
        streaming_mode._await(q, f"bounded drain {name}")
        return spark.table(name)

    return drain


FORMS = {
    "parent": _uncapped_drain(manager=False),
    "manager": _uncapped_drain(manager=True),
    "change": streaming_mode._drain,
}


def _under(form, key):
    """The key's builder with ``streaming_mode._drain`` swapped for ``form``."""

    def build(spark, data):
        streaming_mode._drain = form
        try:
            return registry.QUERIES[key](spark, data)
        finally:
            streaming_mode._drain = FORMS["change"]

    return build


def cases(spark, data):
    for key in KEYS:
        yield key, {n: query(spark, _under(f, key), data) for n, f in FORMS.items()}
