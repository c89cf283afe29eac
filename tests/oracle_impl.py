"""Single-node pandas/pure-Python oracle for the full ER pipeline.

Reimplements blocking + scoring + connected components with the same
math (identical md5 minhash family, identical feature formulas, same
caps) but a completely different execution substrate: Python dicts and
a union-find. The Spark pipeline must produce the identical clustering
partition over mentions — this is the BASELINE.md correctness oracle.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

from entity_linking_in_biomedical_spark.functions.strings import jaro_winkler, tfidf_cosine
from entity_linking_in_biomedical_spark.operators.blocking import (
    BANDS,
    DEL2_MAX_LEN,
    DEL_MAX_LEN,
    GRAM_SIZES,
    LSH_MIN_LEN,
    NUM_HASHES,
    MAX_KEY_FREQ,
    TOP_K,
    WORD_NUM_HASHES,
)
from entity_linking_in_biomedical_spark.operators import scoring as S
from entity_linking_in_biomedical_spark.operators.mentions import _sweep
from entity_linking_in_biomedical_spark.plans.pipeline import MM_PAIR_CAP, MM_THRESHOLD


def nk(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def grams(s: str, n: int = 3) -> list[str]:
    if len(s) < n:
        return [s] if s else [""]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def multigrams(s: str, ns=(2, 3)) -> list[str]:
    """Union of n-gram sets, order-preserving distinct (mirrors
    char_ngrams_multi: concat then array_distinct)."""
    out: list[str] = []
    seen = set()
    for n in ns:
        for g in grams(s, n):
            if g not in seen:
                seen.add(g)
                out.append(g)
    return out


def band_keys(s: str) -> list[str]:
    """Python twin of the char-gram LSH channel: one 1-row band key per
    minhash (BANDS == NUM_HASHES)."""
    from entity_linking_in_biomedical_spark.functions.ngrams import (
        MINHASH_P,
        minhash_coeffs,
    )

    assert NUM_HASHES == BANDS
    gs = multigrams(s, GRAM_SIZES) or [""]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P for g in gs]
    sig = []
    for k in range(NUM_HASHES):
        a, b = minhash_coeffs(k)
        sig.append(min((a * h + b) % MINHASH_P for h in hs))
    return [f"l{j}|{sig[j]}" for j in range(BANDS)]


def word_keys_py(s: str) -> list[str]:
    """Python twin of operators.blocking.word_keys."""
    from entity_linking_in_biomedical_spark.functions.ngrams import (
        MINHASH_P,
        minhash_coeffs,
    )

    toks = s.split(" ")
    keys = []
    if len(toks) >= 2:
        keys.append("w|" + " ".join(sorted(toks)))
    if len(toks) >= 3:
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % MINHASH_P for t in toks]
        for k in range(WORD_NUM_HASHES):
            a, b = minhash_coeffs(k)
            keys.append(f"w{k}|{min((a * h + b) % MINHASH_P for h in hs)}")
    return keys


def blocking_keys_py(s: str) -> list[str]:
    """Python twin of operators.blocking.blocking_keys (exact + deletion
    neighborhood + LSH bands + word channel), order-preserving distinct."""
    keys = ["x|" + s]
    if len(s) <= DEL_MAX_LEN:
        d1 = [s[:i] + s[i + 1 :] for i in range(len(s))]
        variants = [s] + d1
        if 2 <= len(s) <= DEL2_MAX_LEN:
            variants += [v[:j] + v[j + 1 :] for v in d1 for j in range(len(v))]
        keys += ["d|" + v for v in variants if len(v) >= 3]
    if len(s) >= LSH_MIN_LEN:
        keys += band_keys(s)
    keys += word_keys_py(s)
    out, seen = [], set()
    for k in keys:
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out


class UF:
    def __init__(self):
        self.p: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: str, b: str):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-id root to mirror the Spark cluster-id convention
            if ra < rb:
                self.p[rb] = ra
            else:
                self.p[ra] = rb


def lev(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def fit_idf_py(norms: list[str], ngram: int, vocab_cap: int) -> dict:
    """IDF fit on entity names (same rule as fit_idf): document
    frequency per char n-gram, the vocab_cap most frequent grams (ties
    by gram), idf = ln((N+1)/(df+1))+1."""
    dfc = Counter()
    for n in norms:
        dfc.update(set(g for g in grams(n, ngram) if g))
    top = sorted(dfc.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_cap]
    return {g: math.log((len(norms) + 1) / (d + 1)) + 1.0 for g, d in top}


def score(a: str, b: str, idf: dict, emb: dict) -> float:
    """The package's match score; the scoring constants are read at
    call time, so a test that patches one (``S.NGRAM``) patches both."""
    jw = jaro_winkler(a, b)
    ls = 1.0 - lev(a, b) / max(len(a), len(b), 1)
    cos = tfidf_cosine(a, b, idf, n=S.NGRAM)
    ea, eb = emb.get(a), emb.get(b)
    dot = sum(x * y for x, y in zip(ea, eb)) if ea and eb else 0.5
    z = S.W_JW * jw + S.W_LEV * ls + S.W_COS * cos + S.W_DOT * dot + S.BIAS
    return 1.0 / (1.0 + math.exp(-z))


def run_oracle(corpus, use_emb: bool = True) -> dict:
    """Returns {(doc_id, span_seq): cluster_id} over surviving mentions."""
    emb = corpus.embeddings if use_emb else {}

    abbr = {(a["doc_id"], a["abbr"]): a["long_form"] for a in corpus.abbr_map}

    # stage 1: mentions
    mentions = []  # (doc_id, span_seq, norm)
    for d in corpus.documents:
        keep = set(_sweep(d["spans"]))
        for i, s in enumerate(d["spans"]):
            if s["kind"] == "mention" and i in keep:
                surf = abbr.get((d["doc_id"], s["text"]), s["text"])
                n = nk(surf)
                if n:
                    mentions.append((d["doc_id"], i, n))
    surfaces = sorted({m[2] for m in mentions})

    # entity names
    names = []  # (cui, norm)
    seen = set()
    for e in corpus.entities:
        for s in e["synonyms"]:
            n = nk(s)
            if n and (e["cui"], n) not in seen:
                seen.add((e["cui"], n))
                names.append((e["cui"], n))

    idf = fit_idf_py([n for _, n in names], S.NGRAM, S.VOCAB_CAP)

    # stage 2: blocking (unified exact + deletion + LSH keys)
    ent_by_norm = defaultdict(set)
    for cui, n in names:
        ent_by_norm[n].add(cui)
    ent_by_key = defaultdict(set)  # key -> set(cui)
    for cui, n in names:
        for bk in blocking_keys_py(n):
            ent_by_key[bk].add(cui)
    hot = {bk for bk, cuis in ent_by_key.items() if len(cuis) > MAX_KEY_FREQ}
    cands = defaultdict(set)  # norm -> set(cui)
    for s in surfaces:
        for bk in blocking_keys_py(s):
            if bk in hot:
                continue
            cands[s] |= ent_by_key.get(bk, set())
    # top-k cap on proxy (exact pinned first, then lev on representative norm)
    rep = {}
    for cui, n in names:
        rep[cui] = min(rep.get(cui, n), n)
    for s in list(cands):
        cs = cands[s]
        if len(cs) > TOP_K:
            def proxy(c):
                # has_exact mirrors Spark: the x| key must have
                # SURVIVED the hot-key cap
                if ("x|" + s) not in hot and c in ent_by_norm.get(s, ()):
                    return (-2.0, c)
                e = rep[c]
                return (-(1.0 - lev(s, e) / max(len(s), len(e), 1)), c)
            cands[s] = set(sorted(cs, key=proxy)[:TOP_K])

    # stage 3: scoring — argmax entity link per surface (top-1, tie -> min cui)
    syns_by_cui = defaultdict(list)
    for cui, n in names:
        syns_by_cui[cui].append(n)
    uf = UF()
    for s in surfaces:
        uf.find("s|" + s)
    linked: set[str] = set()
    for s, cs in cands.items():
        scored = sorted(
            (
                (-max(score(s, n, idf, emb) for n in syns_by_cui[cui]), cui)
                for cui in cs
            ),
        )
        if scored and -scored[0][0] >= S.THRESHOLD:
            uf.union("s|" + s, "e|" + scored[0][1])
            linked.add(s)

    # mention-mention channel (same banding, hot cap on surface side, pair cap)
    surf_by_band = defaultdict(list)
    for s in surfaces:
        for bk in blocking_keys_py(s):
            surf_by_band[bk].append(s)
    def md5_order(b: str) -> tuple[str, str]:
        # identical deterministic partner order as the Spark window
        # (orderBy md5(b_norm), b_norm)
        return (hashlib.md5(b.encode()).hexdigest(), b)

    pair_partners = defaultdict(set)
    for bk, members in surf_by_band.items():
        if len(members) > MAX_KEY_FREQ:
            continue
        ms = sorted(set(members))
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pair_partners[ms[i]].add(ms[j])
    # scored, thresholded, undirected pair set (after the directional cap)
    mm_ok: dict[str, list[tuple[float, str]]] = defaultdict(list)
    for a, partners in pair_partners.items():
        chosen = sorted(partners, key=md5_order)[:MM_PAIR_CAP]
        for b in chosen:
            sij = score(a, b, idf, emb)
            if sij >= MM_THRESHOLD:
                mm_ok[a].append((sij, b))
                mm_ok[b].append((sij, a))
    # only unlinked surfaces attach, each to its single best partner
    # (score desc, partner asc) — mirrors the Spark window exactly
    for s, opts in mm_ok.items():
        if s in linked:
            continue
        best = sorted(opts, key=lambda t: (-t[0], t[1]))[0]
        uf.union("s|" + s, "s|" + best[1])

    # cluster ids
    out = {}
    for doc_id, seq, n in mentions:
        root = uf.find("s|" + n)
        cid = root[2:] if root.startswith("e|") else "NIL_" + root[2:]
        out[(doc_id, seq)] = cid
    return out
