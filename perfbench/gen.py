"""Seeded input generators, one per generated workload.

Each generator takes the seed and an output directory, writes the
inputs the program reads plus the ground truth the output checks use,
and records its parameters in ``meta.properties``. The same seed gives
byte-identical files. Generation runs before any timing.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _write_meta(out, **kv):
    with open(os.path.join(out, "meta.properties"), "w") as f:
        for k, v in kv.items():
            f.write(f"{k}={v}\n")


def _words(n, rng, min_len=3):
    """n distinct lowercase words, in random order."""
    codes = rng.permutation(n) + 26 ** min_len
    out = []
    for c in codes.tolist():
        s = bytearray()
        while c:
            c, r = divmod(c, 26)
            s.append(LETTERS[r])
        out.append(bytes(s))
    return out


def _zipf_ranks(n_items, n_draws, s, rng):
    weights = 1.0 / np.arange(1, n_items + 1) ** s
    cdf = np.cumsum(weights)
    return np.searchsorted(cdf, rng.random(n_draws) * cdf[-1], side="right")


# wordcount -----------------------------------------------------------------

WC_VOCAB = 200_000   # well above TinyMapReduce.DefaultCombinerCapacity
WC_TOKENS = 2_000_000
WC_FILES = 4                # one map task each; ~90k distinct words per task
WC_ZIPF_S = 1.0


def wordcount(seed, out):
    """A Zipf ``\\r\\n`` text corpus in several files; counts.tsv holds
    the exact count of every word that occurs."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_words(WC_VOCAB, rng), dtype=object)
    ranks = _zipf_ranks(WC_VOCAB, WC_TOKENS, WC_ZIPF_S, rng)
    toks = vocab[ranks].tolist()
    lengths = rng.integers(4, 21, size=WC_TOKENS // 4)
    ends = np.cumsum(lengths)
    ends = ends[ends < WC_TOKENS].tolist() + [WC_TOKENS]
    lines, start = [], 0
    for e in ends:
        lines.append(b" ".join(toks[start:e]))
        start = e
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    per_file = -(-len(lines) // WC_FILES)
    for i in range(WC_FILES):
        chunk = lines[i * per_file:(i + 1) * per_file]
        with open(os.path.join(corpus, f"part-{i:03d}.txt"), "wb") as f:
            f.write(b"\r\n".join(chunk) + b"\r\n")
    counts = np.bincount(ranks, minlength=WC_VOCAB)
    with open(os.path.join(out, "counts.tsv"), "wb") as f:
        for i in np.nonzero(counts)[0].tolist():
            f.write(vocab[i] + b"\t" + str(int(counts[i])).encode() + b"\n")
    _write_meta(out, lines=len(lines), tokens=WC_TOKENS, vocab=WC_VOCAB,
                distinct=int(np.count_nonzero(counts)), files=WC_FILES)


# curation ------------------------------------------------------------------

FIXTURE_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01", "documents.parquet")
CUR_ORIGINALS = 3_000
CUR_EVAL_PASSAGES = 40
CUR_PASSAGE_WORDS = 12
CUR_BUDGET_SHARE = 0.5     # of all generated tokens
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "this", "for", "on", "with", "as", "at", "by", "be"]
PII_PATTERNS = [r"https?://[^ ]+",  # TextFunctions' Url/Email/Ipv4Pattern
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"]


def _grams(words, n):
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def fixture_profile(path=FIXTURE_DOCS):
    """The duplicate, contamination and PII properties of the repo's
    documents fixture, measured the way the curation operators see
    them:

    - near copies: documents whose word 3-gram Jaccard with another is
      at least 0.5 (``Dedup.minHashLshPairs``' defaults), grouped; every
      member but one per group is a copy. ``near_rate`` is copies per
      original, ``near_edit_words`` the median number of words inserted,
      deleted or replaced between the members of a pair;
    - exact copies: documents whose text equals an earlier one's;
    - contamination: with q70's split (``doc_id % 10 == 0`` held out),
      the share of training documents sharing a word 8-gram
      (``Decontaminate.removeContaminated``' default) with the held-out
      set;
    - PII: documents matching ``TextFunctions.scrubPii``'s patterns."""
    import difflib
    import re
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    ids, texts = t["doc_id"], t["text"]
    words = [x.split() for x in texts]
    tri = [_grams(w, 3) for w in words]
    parent = list(range(len(texts)))

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    first = sorted({x: i for i, x in reversed(list(enumerate(texts)))}.values())
    edits, paired = [], set()
    for n, i in enumerate(first):  # exact copies are not near copies too
        for j in first[n + 1:]:
            a, b = tri[i], tri[j]
            if a and b and len(a & b) >= 0.5 * len(a | b):
                parent[root(i)] = root(j)
                paired |= {i, j}
                ops = difflib.SequenceMatcher(a=words[i], b=words[j],
                                              autojunk=False).get_opcodes()
                edits.append(sum(max(i2 - i1, j2 - j1)
                                 for op, i1, i2, j1, j2 in ops if op != "equal"))
    near = len(paired) - len({root(i) for i in paired})
    exact = len(texts) - len(set(texts))
    held = set().union(*(_grams(w, 8) for i, w in zip(ids, words) if i % 10 == 0))
    train = [w for i, w in zip(ids, words) if i % 10 != 0]
    contaminated = sum(bool(_grams(w, 8) & held) for w in train)
    pii = sum(any(re.search(p, x) for p in PII_PATTERNS) for x in texts)
    originals = len(texts) - near - exact
    return {"docs": len(texts), "near_rate": near / originals,
            "near_edit_words": int(np.median(edits)) if edits else 0,
            "exact_rate": exact / originals,
            "contam_rate": contaminated / len(train),
            "pii_rate": pii / len(texts)}


def _pii(rng):
    kind = rng.integers(3)
    n = int(rng.integers(1000))
    if kind == 0:
        return f"user{n}@example{n % 7}.com"
    if kind == 1:
        return f"https://site{n % 13}.org/page/{n}"
    return f"10.{n % 250}.{(n * 7) % 250}.{(n * 13) % 250}"


def curation(seed, out):
    """Documents with planted exact copies, near copies, PII and
    passages copied from a held-out evaluation set. The near-copy rate,
    the near-copy edit and the contamination rate are the documents
    fixture's (``fixture_profile``). The fixture holds no exact copy and
    no PII, so those are planted at its near-copy rate, as stated
    parameters. exact_copies.txt lists the larger id of every exact
    pair; contaminated.txt lists every document holding an evaluation
    passage; tokens.tsv has each document's whitespace token count."""
    prof = fixture_profile()
    near_rate = prof["near_rate"]
    exact_rate = prof["exact_rate"] or near_rate
    pii_rate = prof["pii_rate"] or near_rate
    rng = np.random.default_rng(seed)
    content = [w.decode() for w in _words(4000, rng)]
    punct = ["", "", "", "", ",", ".", ";"]

    cdf = np.cumsum(1.0 / np.arange(1, len(content) + 1) ** 1.1)

    def sentence_words(n):
        stop = rng.random(n) < 0.3
        word = np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right")
        mark = rng.integers(len(punct), size=n)
        sw = rng.integers(len(STOPWORDS), size=n)
        return [STOPWORDS[sw[i]] if stop[i] else content[word[i]] + punct[mark[i]]
                for i in range(n)]

    evals = [sentence_words(int(rng.integers(25, 40))) for _ in range(CUR_EVAL_PASSAGES)]

    def pick(rate):  # an exact share of the originals, so every seed plants as many
        return set(rng.choice(CUR_ORIGINALS, size=round(CUR_ORIGINALS * rate),
                              replace=False).tolist())

    pii, contam, exact, near = (pick(pii_rate), pick(prof["contam_rate"]),
                                pick(exact_rate), pick(near_rate))
    docs = []  # (words, contaminated)
    for i in range(CUR_ORIGINALS):
        words = sentence_words(int(rng.integers(40, 160)))
        if i in pii:
            words.insert(int(rng.integers(len(words) + 1)), _pii(rng))
        if i in contam:
            p = evals[int(rng.integers(len(evals)))]
            a = int(rng.integers(len(p) - CUR_PASSAGE_WORDS))
            at = int(rng.integers(len(words) + 1))
            words[at:at] = p[a:a + CUR_PASSAGE_WORDS]
        docs.append((words, i in contam))
    pairs = []
    for i in range(CUR_ORIGINALS):
        words, contaminated = docs[i]
        if i in exact:
            docs.append((list(words), contaminated))
            pairs.append((i, len(docs) - 1))
        if i in near:  # the fixture's edit: single words inserted or deleted
            copy = list(words)
            for _ in range(prof["near_edit_words"]):
                at = int(rng.integers(len(copy)))
                if rng.random() < 0.5:
                    del copy[at]
                else:
                    copy.insert(at, content[int(rng.integers(len(content)))])
            docs.append((copy, contaminated and _holds_passage(copy, evals)))
    ids = rng.permutation(len(docs))
    exact_copies = sorted(int(max(ids[a], ids[b])) for a, b in pairs)
    texts = [" ".join(w) for w, _ in docs]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "shard": pa.array(ids % 4, pa.int32()),
        "text": pa.array(texts, pa.string()),
    })
    pq.write_table(table, os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({"text": [" ".join(p) for p in evals]}),
                   os.path.join(out, "eval.parquet"))
    with open(os.path.join(out, "exact_copies.txt"), "w") as f:
        f.write("".join(f"{i}\n" for i in exact_copies))
    with open(os.path.join(out, "contaminated.txt"), "w") as f:
        f.write("".join(f"{int(ids[k])}\n" for k, (_, c) in enumerate(docs) if c))
    total = 0
    with open(os.path.join(out, "tokens.tsv"), "w") as f:
        for k, (w, _) in enumerate(docs):
            total += len(w)
            f.write(f"{int(ids[k])}\t{len(w)}\n")
    _write_meta(out, docs=len(docs), budget=int(total * CUR_BUDGET_SHARE),
                seq_len=2048, exact_copies=len(exact_copies),
                near_copies=len(near), pii_docs=len(pii),
                contaminated=sum(c for _, c in docs),
                near_edit_words=prof["near_edit_words"],
                **{f"fixture_{k}": (f"{v:.4f}" if isinstance(v, float) else v)
                   for k, v in prof.items()})


def _holds_passage(words, evals, n=8):
    grams = {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}
    return any(tuple(p[i:i + n]) in grams
               for p in evals for i in range(len(p) - n + 1))


# xling_stream --------------------------------------------------------------

XL_BATCHES = 2
XL_BATCH_VECTORS = 300
XL_DIMS = 64
XL_CLUSTERS = 24
XL_SPREAD = 0.6            # noise norm relative to the unit cluster centre
XL_COMPACT_EVERY = 1
XL_SAMPLE_MOD = 5


def xling_stream(seed, out, spread=XL_SPREAD):
    """Clustered unit vectors in equal micro-batch files; ``spread`` sets
    how far vectors scatter around their cluster centres, and with it
    how many prior IVF lists a batch touches."""
    rng = np.random.default_rng(seed)
    n = XL_BATCHES * XL_BATCH_VECTORS
    centres = rng.normal(size=(XL_CLUSTERS, XL_DIMS))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    member = rng.integers(XL_CLUSTERS, size=n)
    noise = rng.normal(size=(n, XL_DIMS)) / np.sqrt(XL_DIMS)
    v = centres[member] + spread * noise
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    os.makedirs(os.path.join(out, "vectors"))
    for b in range(XL_BATCHES):
        lo, hi = b * XL_BATCH_VECTORS, (b + 1) * XL_BATCH_VECTORS
        emb = pa.FixedSizeListArray.from_arrays(pa.array(v[lo:hi].ravel()), XL_DIMS)
        table = pa.table({
            "vec_id": pa.array(np.arange(lo, hi), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
        })
        pq.write_table(table, os.path.join(out, "vectors", f"batch-{b:03d}.parquet"))
    _write_meta(out, vectors=n, batches=XL_BATCHES, dims=XL_DIMS,
                clusters=XL_CLUSTERS, spread=spread,
                compact_every=XL_COMPACT_EVERY, sample_mod=XL_SAMPLE_MOD)


GENERATORS = {"wordcount": wordcount, "curation": curation,
              "xling_stream": xling_stream}
