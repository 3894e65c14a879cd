"""Singleton pulsing — df==1 postings inlined into a term-dictionary sidecar.

Reference: the pulsing idea ("inline postings for rare terms into the term
dictionary so a lookup needs no postings seek") from Lucene's historical
PulsingPostingsFormat; the modern BlockTree dictionary keeps the same win for
singleton terms by storing the docID delta inline in term metadata
(codecs/lucene90/blocktree/Lucene90BlockTreeTermsWriter.java — singleton
postings are encoded in the term's metadata bytes when df == 1).

Spark shape: a ``pulsed`` sidecar DataFrame (term, seg, docid, tf, dl,
pos_blob) holding each df==1 term's single posting in plain columns.  At
query time, pulsed terms are served by a pushdown-pruned scan of this
vocabulary-sized table and synthesized back into standard posting rows on
the driver (k tiny rows); the BIG postings table is scanned only for the
remaining terms — and not at all when every query term is a singleton (the
id-lookup / tail-term case).  The sidecar is read only when the postings are
not reader-resident, and not by sorted_topk's probe rounds, whose scan is
already pruned to the probed seg partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

PULSED_SCHEMA = "term string, seg long, docid long, tf long, dl long, pos_blob binary"


def pulse_index(index):
    """Build the singleton sidecar from an existing index: one narrow
    broadcast-join of the df==1 vocabulary against the postings, decoding
    each single-posting row in an Arrow pass.  Returns a new handle with
    ``pulsed`` set (persisted by write_index, reloaded by read_index),
    sharing the term-statistics and postings snapshots.

    Compaction/merge drops the sidecar (docids are renumbered); re-pulse
    after a merge, exactly as Lucene rebuilds term metadata at merge."""
    from .index import Index
    from .kernel import TermPostings

    singles = index.termdict.filter(F.col("df") == 1).select("term")
    rows = index.postings.join(F.broadcast(singles), "term")
    seg_size = index.seg_size

    def extract(batches):
        for pdf in batches:
            out = {"term": [], "seg": [], "docid": [], "tf": [], "dl": [],
                   "pos_blob": []}
            for r in pdf.to_dict("records"):
                tp = TermPostings(r, seg_size)
                d, f, dl = tp.decode()
                if len(d) != 1:
                    continue  # df_local>1 can't be a global singleton
                out["term"].append(r["term"])
                out["seg"].append(int(r["seg"]))
                out["docid"].append(int(d[0]))
                out["tf"].append(int(f[0]))
                out["dl"].append(int(dl[0]))
                pb = r.get("pos_blob")
                out["pos_blob"].append(bytes(pb) if pb is not None else b"")
            yield pd.DataFrame(out)

    pulsed = rows.mapInPandas(extract, schema=PULSED_SCHEMA)
    out = Index(
        docs=index.docs, postings=index.postings, termdict=index.termdict,
        norms=index.norms, doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        seg_size=index.seg_size, tombstones=index.tombstones, pulsed=pulsed,
    )
    # the termdict and postings are shared, so are their snapshots
    out._term_stats, out._postings = index._term_stats, index._postings
    return out


def synthesize_posting_rows(pulsed_rows: list) -> list[dict]:
    """Driver-side: pulsed sidecar rows → standard POSTINGS_SCHEMA dicts
    (tail-encoded single posting + its one-point impact frontier) — the
    kernel cannot tell them apart from scanned rows."""
    from .codecs import BLOCK_SIZE, encode_postings
    from .impacts import block_frontiers

    out = []
    for r in pulsed_rows:
        d = np.array([r["docid"]], dtype=np.int64)
        f = np.array([r["tf"]], dtype=np.int64)
        dl = np.array([r["dl"]], dtype=np.int64)
        enc = encode_postings(d, f, dl)
        imp_f, imp_dl, imp_off = block_frontiers(d, f, dl, BLOCK_SIZE)
        out.append({
            "term": r["term"], "seg": int(r["seg"]), "df_local": 1,
            "cf_local": int(r["tf"]), "nblocks": 0, "n_tail": 1,
            "doc_blob": enc["doc_blob"], "freq_blob": enc["freq_blob"],
            "dl_blob": enc["dl_blob"], "tail_blob": enc["tail_blob"],
            "pos_blob": bytes(r["pos_blob"]) if r["pos_blob"] is not None else b"",
            "block_last_docid": enc["block_last_docid"].tolist(),
            "imp_freqs": imp_f.tolist(), "imp_dls": imp_dl.tolist(),
            "imp_offsets": imp_off.tolist(),
        })
    return out
