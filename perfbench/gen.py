"""Seeded corpus for the `ingest_serve` workload.

`make_corpus(seed, out_dir)` writes parquet tables that depend only on the
seed, byte for byte:

  history.parquet      doc_id, text              set-up installs its indexes
  history_emb.parquet  vec_id, embedding         from these (fp, band, span,
                                                 BM25, IVF, IVF-PQ, LM)
  eval.parquet         doc_id, text              the eval suite (winnowing and
                                                 BM25-shingle decontamination)
  lang.parquet         doc_id, text, lang        lang-id training set
  quality.parquet      doc_id, text, label       quality-model training set
  stream.parquet       doc_id, text, batch, kind, src_id
  stream_emb.parquet   vec_id, embedding
  serve_terms.parquet  query_id, term            BM25 serve probes
  serve_vecs.parquet   vec_id, embedding         IVF / IVF-PQ serve probes

`kind` and `src_id` are the ground truth; the engine only ever sees
(doc_id, text) and (vec_id, embedding). Stream kinds:

  fresh      new text from the English model
  exact_dup  verbatim re-presentation of a history or earlier stream doc
  near_dup   a history doc with two tokens replaced
  eval_leak  fresh text with a verbatim eval-suite passage spliced in
  foreign    text from another language's vocabulary
  junk       uniform word salad with runs of one repeated token
  reencode   fresh text whose embedding is a near-identical copy of a
             history doc's embedding

perfbench/README.md gives the source of each traffic value below, or says
that it is unverified.

Run `python3 perfbench/gen.py <seed> <out_dir>` to write a corpus by hand.
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 16
VOCAB = 4000
FOREIGN_VOCAB = 1500
HISTORY = 400
EVAL = 60
BATCH = 50
BATCHES = 8
MIN_DF = 20
STREAM_ID0 = 1_000_000
EVAL_ID0 = 10_000_000
KINDS = ["fresh", "exact_dup", "near_dup", "eval_leak", "foreign", "junk", "reencode"]
SHARES = [0.62, 0.10, 0.06, 0.06, 0.06, 0.05, 0.05]
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01",
                         "documents.parquet")

CONSONANTS = list("bcdfghjklmnprstvwz")
VOWELS = list("aeiou")
FOREIGN_SYLLABLES = {
    "de": (list("bdfghklmnrstwz"), ["ei", "au", "ie", "eu", "a", "e", "o", "u"]),
    "fr": (list("bcdflmnprstv"), ["ou", "oi", "ai", "eau", "e", "i", "u", "a"]),
}
BOILERPLATE = [
    "subscribe now to receive our weekly newsletter in your inbox",
    "all rights reserved no part may be reproduced without permission",
    "click here to accept cookies and continue browsing this site",
    "follow us on social media for the latest updates and offers",
]


def words(rng, n, consonants, vowels, min_syl=2, max_syl=4):
    """n distinct pseudo-words built from syllables."""
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(min_syl, max_syl + 1))
        w = "".join(consonants[int(rng.integers(len(consonants)))] +
                    vowels[int(rng.integers(len(vowels)))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class TextModel:
    """Zipf unigram draws mixed with per-word successor lists, so n-grams
    repeat the way natural text does without collapsing onto a few words."""

    def __init__(self, rng, vocab, s=1.0, follow=0.35, successors=6):
        self.rng = rng
        self.vocab = vocab
        p = 1.0 / np.arange(1, len(vocab) + 1) ** s
        self.cdf = np.cumsum(p / p.sum())
        self.follow = follow
        self.succ = np.minimum(
            np.searchsorted(self.cdf, rng.random((len(vocab), successors))), len(vocab) - 1)

    def draw(self):
        return min(int(np.searchsorted(self.cdf, self.rng.random())), len(self.vocab) - 1)

    def doc(self, n):
        ids = [self.draw()]
        for _ in range(n - 1):
            if self.rng.random() < self.follow:
                ids.append(int(self.succ[ids[-1], int(self.rng.integers(self.succ.shape[1]))]))
            else:
                ids.append(self.draw())
        return [self.vocab[i] for i in ids]


def doc_lengths():
    """Token counts of the committed `documents` table (10-99 tokens, median
    56): the repository's own doc-length distribution."""
    text = pq.read_table(DOCUMENTS, columns=["text"]).column("text").to_pylist()
    return sorted(len(t.split()) for t in text)


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def write(out_dir, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, name),
                   compression="snappy", write_statistics=False)


def make_corpus(seed, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    en = TextModel(rng, words(rng, VOCAB, CONSONANTS, VOWELS))
    foreign = {lang: TextModel(rng, words(rng, FOREIGN_VOCAB, c, v))
               for lang, (c, v) in FOREIGN_SYLLABLES.items()}
    centers = unit(rng.normal(size=(CLUSTERS, DIM)))
    lengths = doc_lengths()

    def doc_len():
        return lengths[int(rng.integers(len(lengths)))]

    def vec():
        return unit(centers[int(rng.integers(CLUSTERS))] + rng.normal(0, 0.1, DIM))

    def reencode(v):
        return unit(v + rng.normal(0, 0.004, DIM))

    def english():
        toks = en.doc(doc_len())
        if rng.random() < 0.15:
            at = int(rng.integers(len(toks)))
            toks[at:at] = BOILERPLATE[int(rng.integers(len(BOILERPLATE)))].split()
        return " ".join(toks)

    def junk():
        n = int(rng.integers(30, 80))
        toks = [en.vocab[int(rng.integers(VOCAB))] for _ in range(n)]
        rep = en.vocab[int(rng.integers(VOCAB))]
        for _ in range(4):
            at = int(rng.integers(n))
            toks[at:at] = [rep] * 6
        return " ".join(toks)

    # history and its embeddings
    history = [english() for _ in range(HISTORY)]
    history_vec = [vec() for _ in range(HISTORY)]
    # eval suite: shorter passages
    evals = [" ".join(en.doc(int(rng.integers(35, 60)))) for _ in range(EVAL)]
    # lang-id and quality training sets
    lang_rows = [(english(), "en") for _ in range(100)]
    for lang, model in foreign.items():
        lang_rows += [(" ".join(model.doc(doc_len())), lang) for _ in range(100)]
    quality_rows = [(english(), 1) for _ in range(100)] + [(junk(), 0) for _ in range(100)]

    # stream
    texts, vecs, batches, kinds, srcs = [], [], [], [], []
    pool = list(range(HISTORY))  # indices into history + stream text for re-presentation

    def text_of(i):
        return history[i] if i < HISTORY else texts[i - HISTORY]

    def vec_of(i):
        return history_vec[i] if i < HISTORY else vecs[i - HISTORY]

    for b in range(BATCHES):
        for _ in range(BATCH):
            kind = KINDS[int(np.searchsorted(np.cumsum(SHARES), rng.random() * sum(SHARES)))]
            src = -1
            if kind == "exact_dup":
                src = pool[int(rng.integers(len(pool)))]
                t, v = text_of(src), vec_of(src)
            elif kind == "near_dup":
                src = int(rng.integers(HISTORY))
                toks = history[src].split()
                for _ in range(2):
                    toks[int(rng.integers(len(toks)))] = en.vocab[int(rng.integers(VOCAB))]
                t, v = " ".join(toks), reencode(history_vec[src])
            elif kind == "eval_leak":
                src = int(rng.integers(EVAL))
                toks = en.doc(doc_len())
                at = int(rng.integers(len(toks)))
                toks[at:at] = evals[src].split()[:30]
                t, v, src = " ".join(toks), vec(), EVAL_ID0 + src
            elif kind == "foreign":
                lang = sorted(foreign)[int(rng.integers(len(foreign)))]
                t, v = " ".join(foreign[lang].doc(doc_len())), vec()
            elif kind == "junk":
                t, v = junk(), vec()
            elif kind == "reencode":
                src = int(rng.integers(HISTORY))
                t, v = english(), reencode(history_vec[src])
            else:
                t, v = english(), vec()
            if kind == "fresh":
                pool.append(HISTORY + len(texts))
            texts.append(t)
            vecs.append(v)
            batches.append(b)
            kinds.append(kind)
            srcs.append(src if src < HISTORY or src >= EVAL_ID0 else STREAM_ID0 + src - HISTORY)

    # serve probes: mid-frequency terms, cluster-centred vectors. A BM25
    # query returns only docs holding one of its terms, so each term is in
    # at least MIN_DF history docs, with room for hot-span scrubbing to
    # remove some: every query then has k = 10 results
    df = {}
    for t in history:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    eligible = [w for w in en.vocab[20:400] if df.get(w, 0) >= MIN_DF]
    terms = [(q, eligible[int(rng.integers(len(eligible)))]) for q in range(16) for _ in range(3)]
    probe_vecs = [unit(centers[q % CLUSTERS] + rng.normal(0, 0.1, DIM)) for q in range(16)]

    emb = pa.list_(pa.float32())
    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", emb)])
    f32 = lambda vs: [np.asarray(v, dtype=np.float32).tolist() for v in vs]  # noqa: E731
    write(out_dir, "history.parquet",
          {"doc_id": list(range(HISTORY)), "text": history}, doc_schema)
    write(out_dir, "history_emb.parquet",
          {"vec_id": list(range(HISTORY)), "embedding": f32(history_vec)}, vec_schema)
    write(out_dir, "eval.parquet",
          {"doc_id": [EVAL_ID0 + i for i in range(EVAL)], "text": evals}, doc_schema)
    write(out_dir, "lang.parquet",
          {"doc_id": list(range(len(lang_rows))), "text": [t for t, _ in lang_rows],
           "lang": [l for _, l in lang_rows]},
          pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())]))
    write(out_dir, "quality.parquet",
          {"doc_id": list(range(len(quality_rows))), "text": [t for t, _ in quality_rows],
           "label": [l for _, l in quality_rows]},
          pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("label", pa.int32())]))
    ids = [STREAM_ID0 + i for i in range(len(texts))]
    write(out_dir, "stream.parquet",
          {"doc_id": ids, "text": texts, "batch": batches, "kind": kinds, "src_id": srcs},
          pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("batch", pa.int32()),
                     ("kind", pa.string()), ("src_id", pa.int64())]))
    write(out_dir, "stream_emb.parquet", {"vec_id": ids, "embedding": f32(vecs)}, vec_schema)
    write(out_dir, "serve_terms.parquet",
          {"query_id": [q for q, _ in terms], "term": [t for _, t in terms]},
          pa.schema([("query_id", pa.int64()), ("term", pa.string())]))
    write(out_dir, "serve_vecs.parquet",
          {"vec_id": [EVAL_ID0 * 2 + q for q in range(16)], "embedding": f32(probe_vecs)},
          vec_schema)


if __name__ == "__main__":
    make_corpus(int(sys.argv[1]), sys.argv[2])
