"""Seeded x`factor` blow-up of the engine's testdata NLP tables.

`decade` reads `documents` and `embeddings` from a base directory (the
testdata copy in `perfbench/data/sf0.01`) and writes a x`factor` copy the
way the engine's scale probe does (`ScaleProbe.ensureSyntheticDecade`,
v2), with the replica parameters drawn from the seed.

Usage: python3 perfbench/datagen.py <base_dir> <out_dir> <factor> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64


def decade(base_dir, out_dir, factor, seed):
    """Writes a x`factor` copy of `base_dir`'s documents and embeddings.

    Replica 0 is the base table. Replica r >= 1 gets ids offset into the
    disjoint range [r * 10M, (r + 1) * 10M); its text is prefixed with one
    junk token of replica-specific length and every token is suffixed with
    `z<r>`, so replicas share no shingles and their byte streams stay
    mutually unaligned; its embeddings are rotated by a replica-specific
    offset and multiplied by a replica-specific +-1 pattern, which keeps
    cosines within a replica exactly and decorrelates replicas.
    """
    rng = np.random.default_rng([seed, factor])
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    junk = rng.permutation(np.arange(1, 90))[: factor]
    rot = rng.integers(0, EMB_DIM, factor)
    flip = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), (factor, EMB_DIM))
    d_cols = {k: [] for k in docs}
    e_ids, e_vecs, e_labels = [], [], []
    for r in range(factor):
        off = r * 10_000_000
        if r == 0:
            texts = docs["text"]
            d_vecs = vecs
        else:
            texts = ["q" * int(junk[r]) + " " + " ".join(w + f"z{r}" for w in t.split())
                     for t in docs["text"]]
            d_vecs = np.roll(vecs, -int(rot[r]), axis=1) * flip[r]
        d_cols["doc_id"] += [i + off for i in docs["doc_id"]]
        d_cols["text"] += texts
        d_cols["lang"] += docs["lang"]
        d_cols["source"] += docs["source"]
        d_cols["n_chars"] += [len(t) for t in texts]
        e_ids.append(emb.column("vec_id").to_numpy() + off)
        e_vecs.append(d_vecs.astype(np.float32))
        e_labels.append(emb.column("label").to_numpy())
    pq.write_table(pa.table({
        "doc_id": pa.array(d_cols["doc_id"], pa.int64()),
        "text": d_cols["text"], "lang": d_cols["lang"], "source": d_cols["source"],
        "n_chars": pa.array(d_cols["n_chars"], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": np.concatenate(e_ids),
        "embedding": pa.array(list(np.concatenate(e_vecs)), type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(e_labels))}),
        os.path.join(out_dir, "embeddings.parquet"))


if __name__ == "__main__":
    decade(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
