"""NULL-robustness audit: run every registry query against a corpus
copy whose documents.text contains NULLs, and report crashes.

The driver's fixtures carry no NULL text at any scale factor, so an
ANSI trap (plain ``parse_url``/``cast``), an unguarded Arrow kernel
(``bytes(None)``), or a ``sequence(0, NULL)`` bound can hide green for
rounds and die on the first regenerated fixture or real corpus. This
sweep found three kernel crashers (mm_features/mm_resize/mm_frames)
the oracle mirror could never see.

    python tools/null_audit.py            # all queries
    python tools/null_audit.py mm_ txt_   # name-prefix filter

Exit 1 if anything raises. This is a does-not-throw check, not an
oracle compare — value semantics for NULL rows are pinned per-operator
by unit tests.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


def build_null_corpus(dst: str, every: int = 5) -> None:
    """Copy SRC with every ``every``-th documents.text set to NULL and
    every ``every+2``-th embeddings vector set to NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(SRC):
        if f not in ("documents.parquet", "embeddings.parquet"):
            shutil.copy(os.path.join(SRC, f), os.path.join(dst, f))
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    texts = t["text"].to_pylist()
    texts = [None if i % every == 0 else x for i, x in enumerate(texts)]
    cols = {c: t[c] for c in t.column_names}
    cols["text"] = pa.array(texts, type=pa.string())
    pq.write_table(pa.table(cols), os.path.join(dst, "documents.parquet"))
    e = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vec_col = next(
        (c for c in e.column_names if pa.types.is_list(e.schema.field(c).type)),
        None,
    )
    if vec_col is not None:
        vecs = e[vec_col].to_pylist()
        vecs = [None if i % (every + 2) == 0 else v for i, v in enumerate(vecs)]
        ecols = {c: e[c] for c in e.column_names}
        ecols[vec_col] = pa.array(vecs, type=e.schema.field(vec_col).type)
        e = pa.table(ecols)
    pq.write_table(e, os.path.join(dst, "embeddings.parquet"))


def main() -> int:
    from delta_data_pipelines_spark.session import get_spark

    prefixes = tuple(sys.argv[1:])
    dst = tempfile.mkdtemp(prefix="nullaudit_")
    build_null_corpus(dst)
    spark = get_spark("null-audit", master="local[8]", shuffle_partitions=8)
    import __spark_entry__ as entry

    fails: list[tuple[str, str]] = []
    qs = entry.queries()
    n_run = 0
    for name, fn in qs.items():
        if prefixes and not name.startswith(prefixes):
            continue
        n_run += 1
        try:
            # full collect, NO limit: CollectLimit short-circuits
            # after one partition, so a limit could return before the
            # kernel ever sees the partition holding the NULL rows
            # (and a count() could column-prune a projection kernel
            # away entirely). sf0.001 keeps this cheap.
            fn(spark, dst).collect()
        except Exception as ex:  # noqa: BLE001 — audit, report all
            fails.append((name, f"{type(ex).__name__}: {str(ex)[:140]}"))
            print(f"FAIL {name}: {fails[-1][1]}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(fails)} of {n_run} queries raised on NULL text")
    shutil.rmtree(dst, ignore_errors=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
