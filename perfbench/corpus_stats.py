#!/usr/bin/env python3
"""Shape statistics of a catalog data directory, as one JSON object.

    python3 perfbench/corpus_stats.py DATA_DIR

Prints the properties that drive the benchmark ops' cost: row counts,
the documents' length, vocabulary and duplicate structure, the events'
users and value spread, and the embeddings' cluster structure. Run it
on a reference corpus and on ``gen.py``'s output to check that the
generator still matches.
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys

import numpy as np
import pyarrow.parquet as pq


def _trailing_dups(words: list[str]) -> int:
    k = 0
    while k < len(words) and words[-1 - k] == "dup":
        k += 1
    return k


def stats(d: str) -> dict:
    def read(t: str):
        return pq.read_table(os.path.join(d, f"{t}.parquet"))

    out: dict = {
        "rows": {
            f[: -len(".parquet")]: pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }
    }
    docs = read("documents").to_pandas()
    words = [t.split() for t in docs.text]
    n_dup = [_trailing_dups(w) for w in words]
    bases = collections.Counter(" ".join(w[: len(w) - k]) for w, k in zip(words, n_dup))
    out["documents"] = {
        "words_min_median_max": [min(map(len, words)), statistics.median(map(len, words)), max(map(len, words))],
        "vocab": len({x for w in words for x in w}),
        "exact_dup_rows": len(docs) - docs.text.nunique(),
        "near_dup_family_members": sum(c for c in bases.values() if c > 1) / len(docs),
        "trailing_dup_tokens": dict(sorted(collections.Counter(n_dup).items())),
        "lang_share": (docs.lang.value_counts(normalize=True).round(3).sort_index().to_dict()),
    }
    ev = read("events")
    ev_pd = ev.to_pandas()
    per_user = ev_pd.groupby("user_id").size()
    out["events"] = {
        "ts_type": str(ev.schema.field("ts").type),
        "users": int(ev_pd.user_id.nunique()),
        "events_per_user_median": float(per_user.median()),
        "value_mean_median_max": [round(float(ev_pd.value.mean()), 2), float(ev_pd.value.median()), float(ev_pd.value.max())],
        "ts_days": round((ev_pd.ts.max() - ev_pd.ts.min()).total_seconds() / 86400, 2),
        "ts_ascends_with_id": bool(ev_pd.sort_values("event_id").ts.is_monotonic_increasing),
        "event_types": int(ev_pd.event_type.nunique()),
    }
    emb = read("embeddings").to_pandas()
    x = np.stack(emb.embedding.values)
    labels = emb.label.values
    cent = np.stack([x[labels == k].mean(0) for k in np.unique(labels)])
    out["embeddings"] = {
        "dim": int(x.shape[1]),
        "labels": int(len(np.unique(labels))),
        "norm_mean": round(float(np.linalg.norm(x, axis=1).mean()), 4),
        "centroid_std": round(float(cent.std()), 4),
        "within_label_std": round(float(np.mean([x[labels == k].std(0).mean() for k in np.unique(labels)])), 4),
    }
    nation = read("nation").to_pandas()
    part = read("part").to_pandas()
    li = read("lineitem").to_pandas()
    out["trade"] = {
        "nations_per_region": sorted(nation.n_regionkey.value_counts().tolist()),
        "part_names": int(part.p_name.nunique()),
        "lines_per_order_median": float(li.groupby("l_orderkey").size().median()),
    }
    return out


if __name__ == "__main__":
    print(json.dumps(stats(sys.argv[1]), indent=1))
