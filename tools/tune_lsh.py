"""LSH banding-shape tuning experiment (round-4 ask #2).

Measures, driver-side with the REAL kernel (minhash.signature_batch, band
interleave included), the raw banding recall and candidate precision of several
(num_perm, bands, rows_per_band) shapes against the exact caption-Jaccard
oracle on the deterministic datagen corpus.  Raw-band recall is the
conservative bound: the pipeline's delivered recall additionally benefits
from the phash/containment detectors and the transitive closure.

Usage: python tools/tune_lsh.py [n_rows]
"""

from __future__ import annotations

import dataclasses
import os
import sys
import time
from itertools import combinations

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jsonschema_jl_spark.config import DedupConfig
from jsonschema_jl_spark.operators.minhash import shingle_set_np, signature_batch
from jsonschema_jl_spark.datagen.images import _caption_for


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    cfg0 = DedupConfig()
    # malformed rows are appended PAST n_rows by datagen (indices >= n), so
    # range(n) is exactly the gate-valid corpus
    caps = [_caption_for(i) for i in range(n)]
    m = len(caps)
    print(f"rows: {m} (of {n})")

    # exact caption-Jaccard oracle (all pairs)
    t0 = time.time()
    sets = [shingle_set_np(c, cfg0.shingle_k) for c in caps]
    oracle = set()
    jacc_cache = {}
    for i, j in combinations(range(m), 2):
        a, b = sets[i], sets[j]
        inter = np.intersect1d(a, b, assume_unique=True).size
        jac = inter / (a.size + b.size - inter)
        if jac >= cfg0.jaccard_tau:
            oracle.add((i, j))
            jacc_cache[(i, j)] = jac
    print(f"oracle pairs (J>= {cfg0.jaccard_tau}): {len(oracle)}  [{time.time()-t0:.1f}s]")

    shapes = [
        (128, 32, 4),   # current
        (128, 16, 8),
        (256, 32, 8),
        (256, 64, 4),
    ]
    for P, b, r in shapes:
        if b * r != P:
            continue
        cfg = dataclasses.replace(cfg0, num_perm=P, num_bands=b, rows_per_band=r)
        t0 = time.time()
        mh = signature_batch(pa.array(caps), cfg, normalized=False, emit={"minhash"})["minhash"]
        # (m, P) band-interleaved: band k = cols [k*r, (k+1)*r)
        S = np.asarray(mh.values).reshape(m, P)
        cands = set()
        for k in range(b):
            sl = S[:, k * r : (k + 1) * r]
            # group rows by identical slice
            order = np.lexsort(sl.T[::-1])
            ss = sl[order]
            brk = np.r_[True, (ss[1:] != ss[:-1]).any(axis=1)]
            grp = np.cumsum(brk) - 1
            for g in range(grp[-1] + 1):
                members = order[grp == g]
                if 1 < len(members) <= cfg.bucket_cap:
                    for i, j in combinations(sorted(members.tolist()), 2):
                        cands.add((i, j))
        hit = len(cands & oracle)
        rec = hit / max(len(oracle), 1)
        # verified pairs = candidates with true J >= tau
        prec = hit / max(len(cands), 1)
        missed = sorted(oracle - cands, key=lambda p: jacc_cache[p])[:5]
        print(
            f"P={P:3d} b={b:2d} r={r}: cands={len(cands):7d} recall={rec:.4f} "
            f"precision={prec:.3f} midpoint={(1/b)**(1/r):.3f} "
            f"missed_J={[round(jacc_cache[p],3) for p in missed]} [{time.time()-t0:.1f}s]"
        )


if __name__ == "__main__":
    main()
