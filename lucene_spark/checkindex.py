"""CheckIndex analog — distributed structural-integrity audit of an index.

Reference: org.apache.lucene.index.CheckIndex (index/CheckIndex.java:79: "Basic
tool and API to check the health of an index and write a new segments file
that removes reference to problematic segments"), which walks every segment
verifying postings (term order, docID order, freq/position consistency —
CheckIndex.checkPostings), norms, and doc counts.

Spark shape: the per-row invariants run as one mapInPandas pass over the
postings table (each posting row is self-contained, so every check is
row-local and the audit parallelizes perfectly — no shuffle); the cross-table
invariants (termdict df/cf == Σ per-segment, norms doc counts == docs table)
are two small aggregate joins.  At 100 TB this is exactly how you'd audit:
narrow full scan + vocabulary-sized joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import decode_positions
from .kernel import TermPostings


def _audit_rows(seg_size: int):
    """mapInPandas body: per posting row, verify decode invariants →
    (n_rows, n_postings, violation counts)."""

    def run(batches):
        for pdf in batches:
            rows = 0
            postings = 0
            bad_df = bad_order = bad_range = bad_cf = bad_blocks = bad_pos = 0
            for r in pdf.to_dict("records"):
                rows += 1
                tp = TermPostings(r, seg_size)
                d, f, dl = tp.decode()
                postings += len(d)
                if len(d) != int(r["df_local"]):
                    bad_df += 1
                if len(d) > 1 and not (np.diff(d) > 0).all():
                    bad_order += 1
                if len(d) and (d[0] < 0 or d[-1] >= seg_size):
                    bad_range += 1
                if int(f.sum()) != int(r["cf_local"]):
                    bad_cf += 1
                # skip-list analog: block_last_docid must equal each full
                # block's last decoded docid (Lucene90SkipWriter contract)
                nb = int(r["nblocks"])
                if nb:
                    from .codecs import BLOCK_SIZE

                    lasts = d[BLOCK_SIZE - 1 : nb * BLOCK_SIZE : BLOCK_SIZE]
                    if not np.array_equal(lasts, np.asarray(r["block_last_docid"])[:nb]):
                        bad_blocks += 1
                pb = r.get("pos_blob")
                if pb is not None and len(pb):
                    try:
                        pos = decode_positions(bytes(pb), f)
                        if len(pos) != int(f.sum()):
                            bad_pos += 1
                    except Exception:
                        bad_pos += 1
            yield pd.DataFrame([{
                "rows": rows, "postings": postings, "bad_df": bad_df,
                "bad_order": bad_order, "bad_range": bad_range,
                "bad_cf": bad_cf, "bad_blocks": bad_blocks, "bad_pos": bad_pos,
            }])

    return run


def check_index(index) -> dict:
    """Audit the index; returns a report dict (status 'ok' iff zero
    violations).  Checks (CheckIndex.checkPostings / checkNorms analogs):

      - per posting row: df_local/cf_local match the decoded arrays, docIDs
        strictly increasing and inside the segment range, skip entries
        (block_last_docid) match block boundaries, positions decode to
        Σ freq entries;
      - termdict: df/cf equal the per-segment sums;
      - docs/norms: every segment's norms row counts exactly the docs table's
        rows for that segment, and doc_count matches the docs table.
    """
    seg_size = index.seg_size
    agg = (
        index.postings.mapInPandas(
            _audit_rows(seg_size),
            schema="rows long, postings long, bad_df long, bad_order long, "
                   "bad_range long, bad_cf long, bad_blocks long, bad_pos long",
        )
        .groupBy().sum().collect()[0]
    )
    row_report = {k.replace("sum(", "").rstrip(")"): int(v or 0)
                  for k, v in agg.asDict().items()}

    # termdict vs per-segment rollup (TermStates.build contract)
    roll = index.postings.groupBy("term").agg(
        F.sum("df_local").alias("df2"), F.sum("cf_local").alias("cf2")
    )
    mism = (
        index.termdict.join(roll, "term", "full_outer")
        .filter(
            (F.col("df") != F.col("df2")) | (F.col("cf") != F.col("cf2"))
            | F.col("df").isNull() | F.col("df2").isNull()
        )
        .count()
    )

    # norms/docs cross-check
    docs_per_seg = (
        index.docs.select((F.col("docid") / F.lit(seg_size)).cast("long").alias("seg"))
        .groupBy("seg").count()
    )
    norm_mism = (
        index.norms.select("seg", "n_docs")
        .join(docs_per_seg, "seg", "full_outer")
        .filter(
            (F.col("n_docs") != F.col("count"))
            | F.col("n_docs").isNull() | F.col("count").isNull()
        )
        .count()
    )
    n_docs = index.docs.count()
    n_terms = index.termdict.count()

    violations = {
        "df_mismatch": row_report["bad_df"],
        "docid_order": row_report["bad_order"],
        "docid_range": row_report["bad_range"],
        "cf_mismatch": row_report["bad_cf"],
        "skip_entries": row_report["bad_blocks"],
        "positions": row_report["bad_pos"],
        "termdict": int(mism),
        "norms": int(norm_mism),
        "doc_count": 0 if n_docs == index.doc_count else 1,
    }
    return {
        "status": "ok" if not any(violations.values()) else "corrupt",
        "n_posting_rows": row_report["rows"],
        "n_postings": row_report["postings"],
        "n_terms": int(n_terms),
        "doc_count": int(n_docs),
        "violations": violations,
    }
