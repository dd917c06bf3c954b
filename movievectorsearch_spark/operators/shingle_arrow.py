"""Doc-local Arrow kernel for word-shingle hashing — the shared input
stage of the text-dedup / contamination family.

The relational form — ``explode(array_distinct(word_shingles(text,n)))``
+ ``poly_hash(shingle)`` — folds an interpreted JVM lambda over every
character of every shingle: each document's characters are re-hashed
~n× (once per overlapping shingle), with per-element interpreter
dispatch (the same cost profile pipeline/featurizer.hash_embed
measured at ~20 ms/row). Shingle hashing is document-local, so this
kernel computes the identical hashes inside one map task per batch:

- normalized text replayed with the JVM semantics
  pipeline/featurizer.hash_embed_arrow established (ASCII-only ``\\s``
  split class, ``strip(' ')``, code points via UTF-32);
- ONE modular prefix-hash array per document: P = 2³¹−1 is prime, so
  31 is invertible and pre[k] = 31^{k-1}·Σ c_j·31^{−j} mod P is fully
  vectorizable (geometric 31-power tables built by O(log n) doubling,
  one cumsum — int64-safe to 4×10⁹ chars/doc);
- every shingle hash is then a closed form over token offsets,
  H(s..e) = (pre[e] − pre[s]·31^{e−s}) mod P — zero per-character work
  per shingle, exactly the polynomial-fold value functions/hashing
  .poly_hash computes;
- distinctness is by shingle STRING (a Python set over norm slices),
  not by hash — so even a genuine hash collision inside a document
  reproduces the relational row multiset exactly.

BIT-EQUAL to the relational stage row-for-row (tests/test_curation.py),
including the edge rows: null text → one (id, NULL) row, short/empty
docs → the single whole-doc fallback shingle (poly_hash('') = 0).
The relational form is the shape the DuckDB oracle mirrors.

The reference has no sub-document or benchmark-decontamination tier at
all (its dedup is whole-title exact match, movie_generator.py:83-94);
this kernel serves the scale path for the operators that add it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.hashing import P


def _geom_table(base: int, n: int):
    """[base^0 .. base^n] mod P as int64, via O(log n) doubling."""
    import numpy as np

    p = np.array([1], dtype=np.int64)
    while len(p) <= n:
        p = np.concatenate([p, p * (int(p[-1]) * base % P) % P])
    return p[: n + 1]


def shingle_hash_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    distinct: bool = True,
) -> DataFrame:
    """(id, h): one row per document per shingle — per DISTINCT shingle
    string when ``distinct`` (the ``array_distinct`` form), else per
    occurrence — with h = poly_hash of the space-joined n-token
    shingle. Documents with fewer than ``n`` tokens emit the single
    whole-doc fallback shingle; null text emits one NULL row (both
    matching word_shingles + poly_hash exactly)."""
    import re

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    id_type = docs.schema[id_col].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("h", LongType())]
    )
    inv31 = pow(31, P - 2, P)  # P prime → Fermat inverse

    def kernel(batches):
        # Java \s, not Python \s: ASCII whitespace only
        ws = re.compile("[ \t\n\x0b\f\r]+")

        for pdf in batches:
            # normalize first so the 31-power / inverse-power tables are
            # built ONCE per batch (sized to the longest doc) instead of
            # twice per document — prefix sums below just slice them.
            normed: list[tuple] = []
            max_ln = 0
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    normed.append((doc_id, None, None, None))
                    continue
                toks = [
                    t for t in ws.split(text.strip(" ").lower()) if t
                ]
                norm = " ".join(toks)
                codes = np.frombuffer(
                    norm.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                if len(codes) > max_ln:
                    max_ln = len(codes)
                normed.append((doc_id, toks, norm, codes))
            pw = _geom_table(31, max_ln)
            ipw_all = _geom_table(inv31, max(max_ln - 1, 0))

            out_id, out_h = [], []
            for doc_id, toks, norm, codes in normed:
                if toks is None:
                    out_id.append(doc_id)
                    out_h.append(None)
                    continue
                ln = len(codes)
                ipw = ipw_all[:ln]
                w = codes * ipw % P
                s_cum = np.concatenate(
                    [np.zeros(1, np.int64), np.cumsum(w) % P]
                )
                pre = np.empty(ln + 1, dtype=np.int64)
                pre[0] = 0
                pre[1:] = s_cum[1:] * pw[:ln] % P

                if len(toks) >= n:
                    starts, off = [], 0
                    for t in toks:
                        starts.append(off)
                        off += len(t) + 1
                    spans = [
                        (starts[i], starts[i + n - 1] + len(toks[i + n - 1]))
                        for i in range(len(toks) - n + 1)
                    ]
                else:
                    spans = [(0, ln)]
                if distinct:
                    seen: dict[str, tuple[int, int]] = {}
                    for s, e in spans:
                        seen.setdefault(norm[s:e], (s, e))
                    spans = list(seen.values())
                sa = np.fromiter(
                    (s for s, _ in spans), dtype=np.int64, count=len(spans)
                )
                ea = np.fromiter(
                    (e for _, e in spans), dtype=np.int64, count=len(spans)
                )
                hs = (pre[ea] - pre[sa] * pw[ea - sa]) % P
                out_id.extend([doc_id] * len(spans))
                out_h.extend(hs.tolist())
            yield pd.DataFrame({"id": out_id, "h": out_h})

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(kernel, schema=schema)
