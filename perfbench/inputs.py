"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and a size, writes parquet
with pyarrow (no Spark session), and is cached by (kind, seed, size) under
the benchmark's work directory, so generation never lands in a timed
region or in ``setup_s``.

* ``families_corpus``: px64 images in duplicate families of 3-7 members
  (the base plus exact, re-encode, near-image and near-caption variants)
  plus hard negatives, with the ground truth the checks need.
* ``unique_corpus``: distinct px256 base images (~160 KB payloads), no
  duplicates at all.

Image rows come from the program's own fixture helpers
(``sylph_spark.fixtures_spark._row_content``).
* ``sql_tables``: the ten tables ``__spark_entry__.queries()`` read, with
  the schemas and value shapes of the project's TPC-H-like test data.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VARIANT_KINDS = ("exact", "reencode", "near_image", "near_caption")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def family_plan(seed: int, n_families: int, neg_frac: float = 0.1):
    """(row_idx, kind, base_idx) per output row plus the truth tables.

    Each family is one base plus 2-6 variants of kinds drawn from
    ``VARIANT_KINDS``; ``neg_frac`` of the families also get one hard
    negative of their base. Returns (plan, variants, negatives) where
    ``variants``/``negatives`` are lists of (row_id, base_row_id)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 99]))
    plan: list[tuple[int, str, int]] = []
    variants: list[tuple[str, str]] = []
    negatives: list[tuple[str, str]] = []
    for fam in range(n_families):
        base_row = len(plan)
        plan.append((base_row, "base", fam))
        for _ in range(int(rng.integers(2, 7))):
            kind = VARIANT_KINDS[int(rng.integers(len(VARIANT_KINDS)))]
            variants.append((row_id(len(plan)), row_id(base_row)))
            plan.append((len(plan), kind, fam))
        if rng.random() < neg_frac:
            negatives.append((row_id(len(plan)), row_id(base_row)))
            plan.append((len(plan), "negative", fam))
    return plan, variants, negatives


def row_id(row_idx: int) -> str:
    return f"img{row_idx:010d}"


def families_corpus(work: str, seed: int, n_families: int, px: int = 64) -> dict:
    """The families corpus; ``truth`` lists (variant, base) and (negative,
    base) id pairs."""
    plan, variants, negatives = family_plan(seed, n_families)
    truth = {"variants": variants, "negatives": negatives, "singletons": []}
    return _corpus(work, f"families_f{n_families}_px{px}_s{seed}", seed, px, plan, truth)


def unique_corpus(work: str, seed: int, n: int, px: int = 256) -> dict:
    """``n`` distinct base images and nothing else: every image must stay a
    singleton."""
    plan = [(i, "base", i) for i in range(n)]
    truth = {"variants": [], "negatives": [], "singletons": [row_id(i) for i in range(n)]}
    return _corpus(work, f"unique_n{n}_px{px}_s{seed}", seed, px, plan, truth, keep=2)


_SHARD = """
import sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
import inputs
inputs.write_shard(*sys.argv[3:])
"""


def _corpus(work, name, seed, px, plan, truth, keep=None) -> dict:
    """Write (once) ``plan`` as parquet, one part file per shard process,
    plus the truth; returns {"path", "truth", "ids"}. ``keep`` bounds how
    many corpora of this kind stay cached (large payloads, new per seed)."""
    path = os.path.join(work, name)
    if not _done(path):
        kind = name.split("_s")[0]
        if keep is not None:
            old = sorted(
                (d for d in os.listdir(work) if d.startswith(kind + "_s") and d != name),
                key=lambda d: os.path.getmtime(os.path.join(work, d)),
            )
            for d in old[: max(0, len(old) - keep + 1)]:
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        with open(os.path.join(path, "_PLAN.json"), "w") as f:
            json.dump(plan, f)
        with open(os.path.join(path, "_TRUTH.json"), "w") as f:
            json.dump(truth, f)
        # encoding is CPU-bound Python: one process per core, each writing
        # its own part file (the sketch stage repartitions the input itself,
        # so the split only sets the scan's parallelism)
        n = os.cpu_count() or 1
        here = os.path.dirname(os.path.abspath(__file__))
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _SHARD, here, os.getcwd(), path, str(seed), str(px), str(i), str(n)]
            )
            for i in range(n)
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"corpus shard failed: {codes}")
        _mark_done(path)
    with open(os.path.join(path, "_TRUTH.json")) as f:
        truth = json.load(f)
    with open(os.path.join(path, "_PLAN.json")) as f:
        ids = [row_id(r[0]) for r in json.load(f)]
    return {"path": path, "truth": truth, "ids": ids}


def write_shard(path: str, seed: str, px: str, shard: str, n_shards: str) -> None:
    """Rows ``shard::n_shards`` of the corpus plan as one parquet file."""
    from sylph_spark import codecs
    from sylph_spark.fixtures_spark import IMAGES_SCHEMA, _row_content

    seed, px, shard, n_shards = int(seed), int(px), int(shard), int(n_shards)
    with open(os.path.join(path, "_PLAN.json")) as f:
        plan = json.load(f)[shard::n_shards]
    cols: dict[str, list] = {
        k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    }
    for row_idx, kind, base_idx in plan:
        img, caption, fmt = _row_content(seed, kind, base_idx, row_idx, px)
        cols["image_id"].append(row_id(row_idx))
        cols["bytes"].append(codecs.encode_image(img, fmt))
        cols["w"].append(img.shape[1])
        cols["h"].append(img.shape[0])
        cols["fmt"].append(fmt)
        cols["caption"].append(caption)
        cols["phash"].append(codecs.average_phash(codecs.to_gray(img)))
    tbl = pa.table(cols, schema=_schema_from_ddl(IMAGES_SCHEMA))
    pq.write_table(tbl, os.path.join(path, f"part-{shard:05d}.parquet"))


def _schema_from_ddl(ddl: str) -> pa.Schema:
    types = {
        "string": pa.string(),
        "binary": pa.binary(),
        "int": pa.int32(),
        "long": pa.int64(),
    }
    fields = []
    for part in ddl.split(","):
        name, typ = part.split()
        fields.append(pa.field(name, types[typ]))
    return pa.schema(fields)


# -- SQL tables ---------------------------------------------------------------

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


# l_suppkey sets of the eight TPC-H sf0.1 part keys whose Spark HLL++
# estimate (rsd 0.01) misses the exact distinct count by 2, outside
# a3_approx_dedup's band of max(1, 3% of exact). The estimate depends only
# on the set of values, so these groups fall out of band at any scale;
# random sets at sf0.001 (200 part keys, 10 suppliers) never do.
HLL_OUT_OF_BAND = (
    (28, 84, 90, 116, 200, 339, 357, 368, 382, 391, 414, 445, 464, 506, 519, 538, 656,
     657, 722, 730, 732, 752, 757, 787, 803, 818, 826, 878, 881, 896, 905, 909, 985),
    (30, 34, 49, 52, 67, 75, 134, 136, 192, 220, 241, 305, 333, 360, 466, 495, 577,
     588, 593, 601, 608, 612, 647, 654, 686, 724, 726, 767, 791, 806, 820, 830, 843,
     859, 865, 882, 963),
    (21, 37, 67, 113, 133, 153, 162, 169, 184, 214, 252, 277, 334, 349, 385, 434, 436,
     550, 562, 583, 585, 594, 599, 601, 635, 666, 669, 673, 674, 705, 725, 855, 885,
     902, 917, 960, 989, 990),
    (86, 93, 107, 125, 143, 147, 260, 286, 349, 359, 411, 422, 453, 478, 490, 495, 523,
     541, 547, 552, 556, 614, 661, 676, 705, 771, 781, 803, 806, 853, 929, 946, 964),
    (3, 14, 33, 49, 67, 73, 78, 83, 137, 167, 202, 242, 246, 356, 372, 414, 424, 445,
     448, 454, 533, 573, 589, 592, 607, 695, 704, 720, 742, 761, 774, 801, 836, 858,
     877, 919, 961, 970),
    (19, 42, 55, 110, 158, 173, 185, 193, 194, 224, 268, 274, 299, 326, 361, 374, 400,
     427, 445, 481, 494, 523, 573, 607, 634, 691, 693, 703, 738, 761, 806, 807, 828,
     902, 955, 961),
    (1, 26, 60, 67, 84, 141, 158, 174, 178, 292, 314, 315, 385, 448, 478, 491, 495,
     524, 542, 563, 578, 579, 661, 671, 690, 700, 867, 898, 931, 988),
    (30, 52, 71, 73, 131, 153, 210, 265, 273, 337, 343, 344, 463, 466, 469, 488, 568,
     612, 652, 719, 773, 806, 837, 886, 923, 932, 966, 980),
)  # fmt: skip


def sql_tables(work: str, seed: int, sf: float) -> str:
    """Write (once) the ten entry tables at scale ``sf`` (0.001 = 6,000
    lineitem rows, plus the ``HLL_OUT_OF_BAND`` lines); returns the
    directory the queries take as ``sf_dir``."""
    path = os.path.join(work, f"sql_s{seed}_sf{sf}")
    if _done(path):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    # documents and embeddings follow the test data: 500 at sf0.01, 5,000
    # and 2,000 at sf0.1
    n_doc = min(5000, max(200, int(50_000 * sf)))
    n_emb = min(2000, max(200, int(50_000 * sf)))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    write(
        "region",
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    write(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        },
    )
    write(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
    )
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": days("1995-01-01", 2405, n_ord),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        },
    )
    # part keys past the part table, one line per supplier of each
    # HLL_OUT_OF_BAND set, so a3_approx_dedup meets its known edge case
    hll_part = [n_part + i for i, s in enumerate(HLL_OUT_OF_BAND) for _ in s]
    hll_supp = [k for s in HLL_OUT_OF_BAND for k in s]
    n_line += len(hll_supp)
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": np.concatenate(
                [rng.integers(0, n_part, n_line - len(hll_part)), hll_part]
            ).astype(np.int64),
            "l_suppkey": np.concatenate(
                [rng.integers(0, n_supp, n_line - len(hll_supp)), hll_supp]
            ).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": days("1995-01-02", 2499, n_line),
        },
    )
    evt_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_evt).astype("timedelta64[us]")
    )
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    write(
        "events",
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": evt_ts,
            "user_id": rng.integers(0, max(15, n_evt // 66), n_evt).astype(np.int64),
            "event_type": etypes[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_DOC_WORDS, n_words)))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    write(
        "documents",
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(
        "embeddings",
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        },
    )
    _mark_done(path)
    return path
