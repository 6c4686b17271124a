"""Seeded fixture generator for the benchmark.

Writes the engine's ten input tables (``tables.TABLES``) as one-row-group
parquet files with the same column names, types and value domains as the
committed test fixtures (FIXTURES.md). Every value comes from one
``numpy`` generator seeded by the benchmark seed, so the same seed and
scale give byte-identical inputs, and different seeds give statistically
identical tables with different rows.

``perturbed_corpus`` builds the per-pass ``llm_pipeline`` corpora with
``tools/scale_curve.py``'s token-bijective transform.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
DOC_DUP_SHARE = 0.05
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables_for(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts as FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(("O", "F", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(
                d0 + rng.integers(0, (d1 - d0) // _US_PER_DAY + 1, n_ord) * _US_PER_DAY
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    s0, s1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                s0 + rng.integers(0, (s1 - s0) // _US_PER_DAY + 1, n_li) * _US_PER_DAY
            ),
        }
    )
    e0 = _epoch_us(2024, 1, 1)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(e0 + rng.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < DOC_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_tok)]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Materialize ``tables_for(seed, sf)`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables_for(seed, sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
        )
    return out_dir


def perturb_index(seed: int, pass_no: int) -> int:
    """Copy index for ``scale_curve``'s transform: 1..25 (copy 0 is the
    untouched base; the text prefix letter cycles mod 26)."""
    return 1 + (seed * 7 + pass_no) % 25


def perturbed_corpus(con, base_dir: str, out_dir: str, index: int) -> str:
    """Copy ``base_dir`` to ``out_dir`` with ``documents.text`` and
    ``customer.c_name`` rewritten by ``tools/scale_curve.py``'s perturbed
    copy ``index``: a bijection on the token space (and a fixed name
    suffix) that keeps within-corpus similarity structure exactly while
    changing every non-stopword token. Fails unless the rewrite is
    gate-neutral (same Gopher survivors as the base corpus).
    """
    from tools import scale_curve

    if index < 1:
        raise ValueError("copy index 0 is the untouched base corpus")
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(base_dir):
        table = name.removesuffix(".parquet")
        src, dst = os.path.join(base_dir, name), os.path.join(out_dir, name)
        content = scale_curve.PERTURB.get(table)
        if not content:
            shutil.copyfile(src, dst)
            continue
        cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        exprs = ", ".join(
            f"{content[c](index)} AS {c}" if c in content else c for c in cols
        )
        con.sql(f"COPY (SELECT {exprs} FROM '{src}') TO '{dst}' (FORMAT PARQUET)")
    _assert_gate_neutral(con, base_dir, out_dir)
    return out_dir


def _assert_gate_neutral(con, base_dir: str, out_dir: str) -> None:
    """Run ``scale_curve``'s Gopher-survivor check over base + perturbed
    documents laid out as copies 0 and 1 of a two-copy fixture."""
    from tools import scale_curve

    both = os.path.join(out_dir, "_gate_check.parquet")
    con.sql(
        f"COPY (SELECT doc_id, text FROM '{base_dir}/documents.parquet' UNION ALL "
        f"SELECT doc_id + {scale_curve.STRIDE} AS doc_id, text "
        f"FROM '{out_dir}/documents.parquet') TO '{both}' (FORMAT PARQUET)"
    )
    try:
        scale_curve._check_gate_neutral(con, both, 2)
    except SystemExit as e:  # the tool's CLI-style failure
        raise RuntimeError(str(e)) from None
    finally:
        os.remove(both)
