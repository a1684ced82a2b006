"""Build a LOCAL scaled-up copy of the test tables for perf measurement
(the driver generates its own larger SF at round end; this approximates
that scale so optimizations are validated beyond sf0.1 — guide §1/§2:
config and plans tuned only to 600k-row tables may not hold).

NOT used by any query; writes to a target dir (default
/tmp/sfbig). Multiplies orders/documents/embeddings by --mult with id
offsets; later copies of documents get a distinct suffix token and later
copies of embeddings get a deterministic per-copy perturbation so the
scaled corpus does not become one giant duplicate blob (which would
change the workload character, not just its size). Other tables are
copied as-is.

Usage: python tools/make_scale_data.py --mult 10 --out /tmp/sfbig
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sfbig")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()

    n_orders = con.sql(f"select max(o_orderkey)+1 from '{SRC}/orders.parquet'").fetchone()[0]
    n_docs = con.sql(f"select max(doc_id)+1 from '{SRC}/documents.parquet'").fetchone()[0]
    n_vecs = con.sql(f"select max(vec_id)+1 from '{SRC}/embeddings.parquet'").fetchone()[0]

    copies_orders = " UNION ALL ".join(
        f"select o_orderkey + {i * n_orders} as o_orderkey, "
        f"o_custkey, o_orderstatus, o_orderpriority, * exclude "
        f"(o_orderkey, o_custkey, o_orderstatus, o_orderpriority) "
        f"from '{SRC}/orders.parquet'"
        for i in range(args.mult)
    )
    con.sql(f"copy ({copies_orders}) to '{args.out}/orders.parquet' (format parquet)")

    copies_docs = " UNION ALL ".join(
        f"select doc_id + {i * n_docs} as doc_id, "
        + ("text" if i == 0 else f"text || ' copytok{i} extra{i}'") + " as text, "
        f"lang, source, length(" + ("text" if i == 0 else f"text || ' copytok{i} extra{i}'")
        + f") as n_chars from '{SRC}/documents.parquet'"
        for i in range(args.mult)
    )
    con.sql(f"copy ({copies_docs}) to '{args.out}/documents.parquet' (format parquet)")

    copies_vecs = " UNION ALL ".join(
        f"select vec_id + {i * n_vecs} as vec_id, "
        + (
            "embedding"
            if i == 0
            else f"[CAST(embedding[j] + 0.01 * {i} * (1 + (j % 7)) AS FLOAT) "
            f"for j in generate_series(1, len(embedding))]"
        )
        + f" as embedding, label from '{SRC}/embeddings.parquet'"
        for i in range(args.mult)
    )
    con.sql(f"copy ({copies_vecs}) to '{args.out}/embeddings.parquet' (format parquet)")

    for t in ("region", "nation", "customer", "supplier", "part", "lineitem", "events"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{args.out}/{t}.parquet")
    print(f"wrote x{args.mult} tables to {args.out}")


if __name__ == "__main__":
    main()
