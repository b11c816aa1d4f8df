"""Versioned-table storage layer.

Delta Lake is not available in this environment, so the engine carries
its own minimal transactional table format — parquet data files plus a
JSON commit log — providing the semantics the reference gets from its
stores:

    MERGE (insert-if-absent / upsert)  ↔ Mongo unique-index insert
                                         (mongodb_utils.py:5-44)
    version history + RESTORE          ↔ MinIO last-data/old-data
                                         rotation + rollback
                                         (price_prediction_data_pipeline.py:140-177,228-268)
    DEEP CLONE + validate + keep-N     ↔ mongodump backup/restore/
                                         validate/prune (utils_of_backup.py:43-164)
    watermark state table              ↔ incremental lower-bound fetch
                                         (sql_search_incremental_dag.py:118-140)

One table class, ``VersionedTable``: unbucketed, or hash-bucketed on a
key (``bucket_key``/``n_buckets``, fixed when the table is created) so
a MERGE or change feed touches only the buckets its keys hash into.

On a real cluster the same API would be backed by Delta/Iceberg; the
interface is deliberately shaped so that swap is mechanical.
``DELTA_AVAILABLE`` is the feature probe for that seam: when the
environment gains ``delta-spark``, VersionedTable becomes a thin
adapter over DeltaTable (merge/restoreToVersion/clone/vacuum map 1:1)
and tests gated on the probe activate.
"""

try:  # pragma: no cover - absent in this container, probe documents the seam
    import delta  # noqa: F401

    DELTA_AVAILABLE = True
except ImportError:
    DELTA_AVAILABLE = False

from .matview import IncrementalAggregate  # noqa: F401
from .meta import ConcurrentWriteError, JsonMetaStore  # noqa: F401
from .replication import ChangeFeedTail  # noqa: F401
from .table import VersionedTable  # noqa: F401
from .watermark import WatermarkStore  # noqa: F401

