"""Freeze the golden replay table for the kg_adv_para driver query.

kg_adv_para's dependency re-linearization paraphrase is seeded and
deterministic (rng keyed on sentence content; projector training is
partition-pinned by the query's fixed-count keyed repartition and a
sorted feature vocabulary), but its cascade is not SQL-expressible — so
its oracle is a GOLDEN REPLAY: this script runs the query at sf0.01
TWICE under different core counts (4 and 32 → different
spark.sql.shuffle.partitions, the nondeterminism channel that would
break a replay), asserts the outputs are identical, and freezes the
table to artifacts/golden_kg_adv_para.parquet. The driver's DuckDB
oracle is then a plain read_parquet of the frozen file — promoting the
query from rows-only to hash-checked.

Regenerate (and re-commit) whenever datagen, the fake parser, the
projector, or tree_paraphrase intentionally changes:
    python scripts/freeze_adv_para_golden.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"
OUT = os.path.join(ROOT, "artifacts", "golden_kg_adv_para.parquet")


def run_once(cores: int):
    import __spark_entry__ as e
    from ner_pytorch_spark.session import get_spark

    spark = get_spark(app_name=f"adv_para_golden_{cores}", cores=cores)
    pdf = (e.queries()["kg_adv_para"](spark, SF)
           .toPandas()
           .sort_values(["url", "sent_id", "variant_id"])
           .reset_index(drop=True))
    spark.stop()
    return pdf


def main():
    a = run_once(4)
    b = run_once(32)
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        raise SystemExit(
            f"NOT deterministic across core counts: {int(diff.sum())} "
            f"differing rows of {len(a)} — do not freeze\n"
            f"{a[diff].head()}\n{b[diff].head()}")
    a.to_parquet(OUT, index=False)
    print(f"frozen {len(a)} rows -> {OUT}")


if __name__ == "__main__":
    main()
