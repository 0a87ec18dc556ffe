#!/usr/bin/env python3
"""Oracle-INDEPENDENCE cross-check (VERDICT r12 #2).

The 133-query DuckDB gate proves Spark == DuckDB, not that the shared
algorithm is right: when both sides encode the same mistake (the r10
countMin inner-join and HLL-null lessons), the gate stays green. This
script is a THIRD implementation — plain Python/numpy written from the
PUBLIC formulas (Flajolet HLL, Cormode-Muthukrishnan count-min,
Robertson BM25, Schleimer-Wilkerson-Aiken winnowing, Sennrich BPE,
Jegou IVF-PQ/ADC, the population z-test) — compared against the parquet
results graft.Verify dumps. It shares NOTHING with the Scala or the
oracle SQL except the published algorithm definitions and the engine's
documented parameters (the portable polynomial hash, LCG codebooks,
fixed seeds — those are part of each operator's spec, not
implementation accidents).

Usage: crosscheck.py [sf_dir] [verify_out_dir]
  defaults: /root/testdata/sf0.01 /tmp/verify_out01
  (run `sbt "runMain graft.Verify <sf_dir> <out_dir>"` first)

Exit 0 = every cross-checked query matches; 1 = any mismatch.

Float columns compare with |diff| <= 2e-6 (the engine rounds display
floats to 6 dp; algorithmic bugs produce errors orders of magnitude
above this). Integer/string columns compare exactly.
"""
import math
import sys
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

P = 1000000007
A = [3, 5, 7, 11, 13, 17, 19, 23]
B = [101, 103, 107, 109, 113, 127, 131, 137]


# ---------------------------------------------------------------- util

def poly_hash(s):
    """fold(acc*31 + codepoint) mod P — the engine's documented portable
    string hash (CrossHash.polyHash)."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % P
    return h


def scramble(s):
    """The engine's documented key scramble for sketches (r14 two-round
    form): quadratic round then a full-range LCG round — squaring alone
    collapsed short keys onto quadratic residues mod 64 (see
    SketchOps.scrambled and tools/invariants.py hll_error)."""
    h = poly_hash(s)
    h = (h * h + 12345) % P
    return (h * 1103515245 + 12345) % P


def tokens(text):
    """split on the single-space literal, drop empties (CrossHash.tokens)."""
    if text is None:
        return []
    return [t for t in text.strip().split(" ") if t]


def hyperplane(idx):
    """LCG dyadic rational in [-0.5, 0.5) — the documented deterministic
    codebook/hyperplane generator."""
    return ((1103515245 * idx + 12345) % 2147483648) / 2147483648.0 - 0.5


def load_table(sf_dir, name):
    return pq.read_table(f"{sf_dir}/{name}.parquet").to_pandas()


def load_result(out_dir, name):
    # graft.Verify writes each query as a parquet DIRECTORY named <query>
    return pq.read_table(f"{out_dir}/{name}").to_pandas()


def canon(df, float_cols=frozenset()):
    """Canonical form: columns sorted by name; rows sorted with the
    NON-FLOAT columns as the primary sort keys (r14 review). Sorting
    float-first (plain alphabetical) made a rounded float column like
    `bm25`/`adc` the row key, so two rows whose scores straddle a 6dp
    rounding boundary — a sub-tolerance diff compare() is designed to
    absorb — could sort in opposite orders on the two sides and
    misalign an exact integer column into a false FAIL. Integer/string
    keys (doc_id, query_id, ...) are deterministic on both sides; the
    float columns only break remaining ties. `float_cols` is supplied by
    compare() as the UNION of both frames' float columns (meta review:
    deriving it per-side made the key ORDER dtype-dependent, so an
    int-vs-float skew between the two sides — which compare()'s value
    tolerance explicitly absorbs — could sort the two sides by different
    keys and misalign rows)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    keys = sorted(df.columns, key=lambda c: (c in float_cols, c))
    return df.sort_values(by=keys, kind="mergesort").reset_index(drop=True)


def compare(name, mine, theirs, float_tol=2e-6):
    if set(mine.columns) != set(theirs.columns):
        return f"FAIL {name}: columns {sorted(mine.columns)} vs {sorted(theirs.columns)}"
    float_cols = frozenset(
        c for df in (mine, theirs) for c in df.columns
        if np.issubdtype(df[c].dtype, np.floating))
    a, b = canon(mine, float_cols), canon(theirs, float_cols)
    if len(a) != len(b):
        return f"FAIL {name}: {len(a)} rows (mine) vs {len(b)} (spark)"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(np.asarray(bv).dtype, np.floating) or \
           np.issubdtype(np.asarray(av).dtype, np.floating):
            av = np.asarray(av, dtype=float)
            bv = np.asarray(bv, dtype=float)
            nan_a, nan_b = np.isnan(av), np.isnan(bv)
            if not np.array_equal(nan_a, nan_b):
                return f"FAIL {name}: NaN placement differs in '{c}'"
            d = np.abs(np.where(nan_a, 0.0, av - np.where(nan_b, 0.0, bv)))
            if d.size and d.max() > float_tol:
                i = int(d.argmax())
                return (f"FAIL {name}: '{c}' max |diff| {d.max():g} at row {i} "
                        f"(mine {av[i]!r} vs spark {bv[i]!r})")
        else:
            if not (np.asarray(av) == np.asarray(bv)).all():
                neq = np.nonzero(np.asarray(av) != np.asarray(bv))[0]
                i = int(neq[0])
                return (f"FAIL {name}: '{c}' differs at row {i} "
                        f"(mine {av[i]!r} vs spark {bv[i]!r})")
    return None


# --------------------------------------------------------- text family

def x_text_entropy(sf):
    docs = load_table(sf, "documents")
    rows = []
    for _, r in docs.iterrows():
        t = r["text"]
        if t is None:
            rows.append((r["doc_id"], None, None, None, None))
            continue
        n = len(t)
        cnt = Counter(t)
        tot = sum(cnt.values())
        # ascending-codepoint fold, -sum p ln p (Shannon, natural log)
        ent = 0.0
        for ch in sorted(cnt):
            p = cnt[ch] / tot
            ent += -p * math.log(p)
        if tot == 0:
            ent = 0.0
        denom = max(n, 1)
        rows.append((r["doc_id"], n, round(ent, 6),
                     round(sum(v for k, v in cnt.items() if "0" <= k <= "9") / denom, 6),
                     round(sum(v for k, v in cnt.items() if "A" <= k <= "Z") / denom, 6)))
    return pd.DataFrame(rows, columns=["doc_id", "n_chars", "char_entropy",
                                       "digit_frac", "upper_frac"])


def x_text_unigram_lp(sf):
    docs = load_table(sf, "documents")
    toks = {r["doc_id"]: tokens(None if r["text"] is None else r["text"].lower())
            for _, r in docs.iterrows()}
    corpus = Counter()
    for tk in toks.values():
        corpus.update(tk)
    total = sum(corpus.values())
    lp = {w: math.log(c / total) for w, c in corpus.items()}
    rows = []
    for did, tk in toks.items():
        if not tk:
            rows.append((did, 0, 0.0))
        else:
            nll = sum(-lp[w] for w in tk) / len(tk)
            rows.append((did, len(tk), round(nll, 6)))
    return pd.DataFrame(rows, columns=["doc_id", "n_tokens", "avg_nll"])


def x_text_bm25(sf, terms=("customer", "vector", "slow"), k1=1.2, b=0.75):
    docs = load_table(sf, "documents")
    toks = {r["doc_id"]: tokens(None if r["text"] is None else r["text"].lower())
            for _, r in docs.iterrows()}
    n_docs = len(toks)  # N counts every document row, null text included
    toktot = sum(len(tk) for tk in toks.values())
    avgdl = toktot / n_docs
    tf = {did: [tk.count(term) for term in terms] for did, tk in toks.items()}
    df = [sum(1 for did in toks if tf[did][i] > 0) for i in range(len(terms))]
    rows = []
    for did, tk in toks.items():
        if not any(v > 0 for v in tf[did]):
            continue
        score = 0.0
        for i in range(len(terms)):
            if tf[did][i] <= 0:
                continue
            idf = math.log(1.0 + ((n_docs - df[i]) + 0.5) / (df[i] + 0.5))
            score += ((idf * tf[did][i]) * (k1 + 1.0)) / (
                tf[did][i] + k1 * ((1.0 - b) + (b * len(tk)) / avgdl))
        rows.append((did, sum(1 for v in tf[did] if v > 0), round(score, 6)))
    return pd.DataFrame(rows, columns=["doc_id", "n_hits", "bm25"])


def winnow_fps(tk, n=3, window=4):
    """Schleimer-Wilkerson-Aiken: n-gram hashes, per-window minima, distinct."""
    sh = len(tk) - n + 1
    if sh < window:
        return set()
    hashes = [poly_hash(" ".join(tk[i:i + n])) for i in range(sh)]
    return {min(hashes[i:i + window]) for i in range(sh - window + 1)}


def x_text_winnow(sf):
    docs = load_table(sf, "documents")
    rows = []
    for _, r in docs.iterrows():
        tk = tokens(None if r["text"] is None else r["text"].lower())
        for fp in winnow_fps(tk):
            rows.append((r["doc_id"], fp))
    return pd.DataFrame(rows, columns=["doc_id", "fp"])


def x_dedup_winnow_pairs(sf, min_shared=2, max_df=64):
    fps = x_text_winnow(sf)
    by_fp = defaultdict(list)
    for did, fp in fps.itertuples(index=False):
        by_fp[fp].append(did)
    shared = Counter()
    for fp, dids in by_fp.items():
        if len(dids) > max_df:
            continue  # df-capped blocking: boilerplate fps drop entirely
        dids = sorted(dids)
        for i in range(len(dids)):
            for j in range(i + 1, len(dids)):
                shared[(dids[i], dids[j])] += 1
    rows = [(a, b, n) for (a, b), n in shared.items() if n >= min_shared]
    return pd.DataFrame(rows, columns=["id_a", "id_b", "shared_fps"])


# ------------------------------------------------------- sketch family

def x_sketch_hll_users(sf):
    ev = load_table(sf, "events")
    ev = ev[ev["user_id"].notna()]
    regs = defaultdict(dict)  # event_type -> reg -> max rho
    exact = defaultdict(set)
    for et, uid in zip(ev["event_type"], ev["user_id"]):
        exact[et].add(uid)
        h = scramble(str(int(uid)))
        reg = h % 64
        w = h // 64
        if w == 0:
            rho = 32
        else:
            rho = 1 + (w & -w).bit_length() - 1
        regs[et][reg] = max(regs[et].get(reg, 0), rho)
    rows = []
    for et, m in regs.items():
        s = sum(2.0 ** -v for v in m.values()) + (64 - len(m))  # empty regs: 2^0
        raw = 0.709 * 64 * 64 / s
        if raw <= 2.5 * 64 and len(m) < 64:  # linear-counting small-range switch
            est = 64.0 * math.log(64.0 / (64 - len(m)))
        else:
            est = raw
        rows.append((et, round(est, 6), len(exact[et])))
    return pd.DataFrame(rows, columns=["event_type", "hll_estimate", "n_exact"])


def x_sketch_cm_counts(sf, width=256, depth=4):
    ev = load_table(sf, "events")
    counts = Counter(int(u) for u in ev["user_id"] if u is not None)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    sketch = [Counter() for _ in range(depth)]
    for uid, n in counts.items():
        h = scramble(str(uid))
        for r in range(depth):
            sketch[r][(h * A[r] + B[r]) % P % width] += n
    rows = []
    for uid, n in top:
        h = scramble(str(uid))
        est = min(sketch[r][(h * A[r] + B[r]) % P % width] for r in range(depth))
        rows.append((uid, est, n))
    return pd.DataFrame(rows, columns=["user_id", "cm_estimate", "n_exact"])


def x_sketch_hist_quantiles(sf, max_value=128, n_buckets=64, qs=(50, 95)):
    docs = load_table(sf, "documents")
    hist = defaultdict(Counter)
    for _, r in docs.iterrows():
        if r["text"] is None:
            continue
        n_tok = len(tokens(r["text"]))
        b = min(max(n_tok * n_buckets // max_value, 0), n_buckets - 1)
        hist[r["lang"]][b] += 1
    rows = []
    for lang, h in hist.items():
        total = sum(h.values())
        edges = {}
        for q in qs:
            cum = 0
            for b in sorted(h):
                cum += h[b]
                if cum * 100 >= total * q:
                    edges[q] = (b + 1) * max_value // n_buckets
                    break
        rows.append((lang, edges[50], edges[95]))
    return pd.DataFrame(rows, columns=["lang", "p50", "p95"])


def x_sketch_heavy_hitters(sf, threshold=900):
    """EXACT heavy hitters — the CM prescreen is one-sided (never drops a
    true hitter) and the engine re-counts exactly, so the spec output is
    simply count >= threshold."""
    docs = load_table(sf, "documents")
    cnt = Counter()
    for t in docs["text"]:
        if t is not None:
            cnt.update(tokens(t.lower()))
    rows = [(tok, n) for tok, n in cnt.items() if n >= threshold]
    return pd.DataFrame(rows, columns=["tok", "n"])


# -------------------------------------------------------------- events

def event_ts_us(ev):
    """events.ts as µs since epoch, across the documented encodings
    (r14 review): timestamp[us] parquet reads back as datetime64 in ns
    units under pandas, and the ns-era driver generation / DataGen
    rehearsal data ship raw int64 NANOSECONDS — both need `// 1000`-ish
    normalization or every window cut is off by 1000x. Magnitude
    dispatch mirrors Tables.scala's loader (ns-era epochs ~1e18,
    µs ~1e15)."""
    ts = ev["ts"].astype("int64")
    # dispatch on the column's max magnitude, not the first row (meta
    # review: one small leading sentinel row would flip the unit for the
    # whole column)
    return ts // 1000 if len(ts) and int(ts.abs().max()) > 10**17 else ts


def x_event_rate_anomaly(sf, window_us=3600 * 10**6, k=2):
    ev = load_table(sf, "events")
    ts_us = event_ts_us(ev)
    win = (ts_us // window_us) * window_us
    wc = Counter(zip(win, ev["event_type"]))
    by_type = defaultdict(list)
    for (w, et), n in wc.items():
        by_type[et].append((w, n))
    rows = []
    for et, wins in by_type.items():
        n_w = len(wins)
        s = sum(c for _, c in wins)
        ss = sum(c * c for _, c in wins)
        for w, c in wins:  # (c·n − S)² > k²·(n·SS − S²), exact ints
            dev = c * n_w - s
            if dev * dev > k * k * (n_w * ss - s * s):
                rows.append((w, et, c))
    return pd.DataFrame(rows, columns=["win_start_us", "event_type", "n_events"])


# ----------------------------------------------------------------- BPE

def utf8_key(s):
    return s.encode("utf-8")


def x_corpus_bpe_pairs(sf, k=20):
    docs = load_table(sf, "documents")
    cnt = Counter()
    for t in docs["text"]:
        tk = tokens(None if t is None else t.lower())
        for i in range(len(tk) - 1):
            cnt[(tk[i], tk[i + 1])] += 1
    top = sorted(cnt.items(),
                 key=lambda kv: (-kv[1], utf8_key(kv[0][0]), utf8_key(kv[0][1])))[:k]
    return pd.DataFrame([(a, b, n) for (a, b), n in top],
                        columns=["left_tok", "right_tok", "n_pairs"])


def x_corpus_bpe_learn100(sf, n_merges=100):
    """Pure-greedy reference BPE trainer (Sennrich et al. 2016): recount
    pair frequencies from scratch every merge — slow and unbatched, which
    is the point: it shares no bookkeeping with either engine tier."""
    docs = load_table(sf, "documents")
    wc = Counter()
    for t in docs["text"]:
        wc.update(tokens(None if t is None else t.lower()))
    words = [(list(w) + ["</w>"], c) for w, c in wc.items()]
    merges = []
    for idx in range(n_merges):
        pc = Counter()
        for syms, c in words:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(pc.items(),
                        key=lambda kv: (-kv[1], utf8_key(kv[0][0]), utf8_key(kv[0][1])))
        merges.append((idx, a, b, n))
        ab = a + b
        for wi, (syms, c) in enumerate(words):
            out = []
            i = 0
            while i < len(syms):
                if out and out[-1] == a and syms[i] == b:
                    out[-1] = ab
                else:
                    out.append(syms[i])
                i += 1
            words[wi] = (out, c)
    return pd.DataFrame(merges,
                        columns=["merge_idx", "left_sym", "right_sym", "n_pairs"])


# ------------------------------------------------------------------ PQ

def x_ann_pq_topk(sf, k=10, m=8, ncode=16, dims=64):
    emb = load_table(sf, "embeddings")
    sub = dims // m
    vecs = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
            for _, r in emb.iterrows()}
    books = np.array([[[hyperplane((s * ncode + c) * sub + d)
                        for d in range(sub)]
                       for c in range(ncode)] for s in range(m)])

    def slice_dist(v, s, cent):
        acc = 0.0
        for d in range(sub):  # left-assoc fold, same IEEE order
            x = v[s * sub + d] - cent[d]
            acc += x * x
        return acc

    codes = {}
    for vid, v in vecs.items():
        cs = []
        for s in range(m):
            best_d, best_c = float("inf"), 0
            for c in range(ncode):
                dd = slice_dist(v, s, books[s][c])
                if dd < best_d:
                    best_d, best_c = dd, c
            cs.append(best_c)
        codes[vid] = cs
    rows = []
    for qid in sorted(vecs):
        if qid >= 8:
            continue
        tabs = [[slice_dist(vecs[qid], s, books[s][c]) for c in range(ncode)]
                for s in range(m)]
        scored = []
        for nid, cs in codes.items():
            if nid == qid:
                continue
            adc = 0.0
            for s in range(m):
                adc += tabs[s][cs[s]]
            scored.append((adc, nid))
        scored.sort()
        for rank, (adc, nid) in enumerate(scored[:k], 1):
            rows.append((qid, rank, nid, round(adc, 6)))
    return pd.DataFrame(rows, columns=["query_id", "rank", "neighbor_id", "adc"])


def x_ann_ivfpq_trained_topk(sf, k=10, nlist=4, nprobe=2, m=8, ncode=16,
                             iters=2, scale=512, dims=64):
    """Residual IVF-PQ with integer Lloyd training — the full public
    recipe (Jegou et al., TPAMI 2011) on the engine's documented exact-
    integer grid: codes floor(x*scale), floor-div means, lowest-id seeds,
    argmin ties to the lowest code/cid."""
    emb = load_table(sf, "embeddings")
    sub = dims // m
    ids = sorted(int(v) for v in emb["vec_id"])
    vec = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
           for _, r in emb.iterrows()}
    cv = {i: [math.floor(x * scale) for x in vec[i]] for i in ids}

    def l2i(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def nearest(v, cents):
        return min(range(len(cents)), key=lambda c: (l2i(v, cents[c]), c))

    # coarse integer Lloyd: seeds = nlist lowest-id vectors
    cents = [list(cv[i]) for i in ids[:nlist]]
    for _ in range(iters):
        sums = [[0] * dims for _ in range(nlist)]
        ns = [0] * nlist
        for i in ids:
            c = nearest(cv[i], cents)
            ns[c] += 1
            for d in range(dims):
                sums[c][d] += cv[i][d]
        for c in range(nlist):
            if ns[c]:  # empty lists keep their centroid
                cents[c] = [sums[c][d] // ns[c] for d in range(dims)]
    cid = {i: nearest(cv[i], cents) for i in ids}
    rv = {i: [cv[i][d] - cents[cid[i]][d] for d in range(dims)] for i in ids}

    # per-subspace residual books: seeds = ncode lowest-id rows' slices
    books = [[list(rv[ids[c]][s * sub:(s + 1) * sub]) for c in range(ncode)]
             for s in range(m)]

    def encode(v):
        out = []
        for s in range(m):
            sl = v[s * sub:(s + 1) * sub]
            out.append(min(range(ncode), key=lambda c: (l2i(sl, books[s][c]), c)))
        return out

    for _ in range(iters):
        sums = [[[0] * sub for _ in range(ncode)] for _ in range(m)]
        ns = [[0] * ncode for _ in range(m)]
        for i in ids:
            cs = encode(rv[i])
            for s in range(m):
                ns[s][cs[s]] += 1
                for d in range(sub):
                    sums[s][cs[s]][d] += rv[i][s * sub + d]
        for s in range(m):
            for c in range(ncode):
                if ns[s][c]:
                    books[s][c] = [sums[s][c][d] // ns[s][c] for d in range(sub)]
    codes = {i: encode(rv[i]) for i in ids}

    rows = []
    for q in ids:
        if q >= 8:
            continue
        qv = cv[q]
        probes = sorted(range(nlist), key=lambda c: (l2i(qv, cents[c]), c))[:nprobe]
        scored = []
        for pl in probes:
            qres = [qv[d] - cents[pl][d] for d in range(dims)]
            tabs = [[l2i(qres[s * sub:(s + 1) * sub], books[s][c])
                     for c in range(ncode)] for s in range(m)]
            for i in ids:
                if cid[i] != pl or i == q:
                    continue
                adc = sum(tabs[s][codes[i][s]] for s in range(m))
                scored.append((adc, i))
        scored.sort()
        for rank, (adc, nid) in enumerate(scored[:k], 1):
            rows.append((q, rank, nid, adc))
    return pd.DataFrame(rows, columns=["query_id", "rank", "neighbor_id", "adc"])


# ------------------------------------------------- signatures & graph

def distinct_grams(text, n):
    tk = tokens(None if text is None else text)
    if len(tk) < n:
        return []
    seen, out = set(), []
    for i in range(len(tk) - n + 1):
        g = " ".join(tk[i:i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def x_dedup_simhash(sf):
    """32-bit SimHash (Charikar 2002) over distinct tokens: per-bit vote
    of the portable hash, bit set iff votes > 0."""
    docs = load_table(sf, "documents")
    rows = []
    for _, r in docs.iterrows():
        toks = distinct_grams(r["text"], 1)
        if not toks:
            continue
        votes = [0] * 32
        for t in toks:
            h = poly_hash(t)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(32) if votes[b] > 0)
        rows.append((r["doc_id"], sig))
    return pd.DataFrame(rows, columns=["doc_id", "simhash"])


def minhash_band_rows(docs, n=3, k=8, bands=4):
    """(doc_id, band_idx, bucket) rows: k permutation minima over distinct
    word n-grams, folded per band as acc=(acc*31+v) mod P seeded with the
    band index — the engine's documented LSH blocking."""
    rows = []
    per = k // bands
    for _, r in docs.iterrows():
        grams = distinct_grams(r["text"], n)
        if not grams:
            continue
        hashes = [poly_hash(g) for g in grams]
        mins = [min((h * A[j] + B[j]) % P for h in hashes) for j in range(k)]
        for b in range(bands):
            acc = b
            for v in mins[b * per:(b + 1) * per]:
                acc = (acc * 31 + v) % P
            rows.append((r["doc_id"], b, acc))
    return rows


def minhash_pairs(docs, max_bucket=64):
    band_rows = minhash_band_rows(docs)
    groups = defaultdict(list)
    for did, b, bucket in band_rows:
        groups[(b, bucket)].append(did)
    pairs = set()
    for ids in groups.values():
        if len(ids) > max_bucket:
            continue  # hot-bucket cap: giant exact-dup families drop
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def x_dedup_simhash_pairs(sf, max_hamming=3, bands=4, max_bucket=8192):
    """SimHash band blocking (Manku et al. 2007): the 32-bit fingerprint
    cut into `bands` slices; any pair within Hamming 3 shares a slice. A
    (band, slice) group over max_bucket docs is dropped (the query's cap),
    then every in-group pair is checked by popcount."""
    sig = x_dedup_simhash(sf).sort_values("doc_id")
    ids = sig["doc_id"].to_numpy()
    hs = sig["simhash"].to_numpy().astype(np.uint32)
    bits = 32 // bands
    pairs = {}
    for b in range(bands):
        groups = defaultdict(list)
        for i, h in enumerate(hs):
            groups[(int(h) >> (bits * b)) & ((1 << bits) - 1)].append(i)
        for members in groups.values():
            if len(members) > max_bucket:
                continue
            m = np.array(members)  # ascending doc_id: sig is sorted
            for j in range(len(m) - 1):
                rest = m[j + 1:]
                x = (hs[rest] ^ hs[m[j]]).astype(">u4").view(np.uint8)
                ham = np.unpackbits(x).reshape(-1, 32).sum(axis=1)
                for r, d in zip(rest[ham <= max_hamming], ham[ham <= max_hamming]):
                    pairs[(ids[m[j]], ids[r])] = int(d)
    rows = [(a, b, d) for (a, b), d in pairs.items()]
    return pd.DataFrame(rows, columns=["id1", "id2", "hamming"])


def x_dedup_incremental_near(sf, max_bucket=64):
    """Batch-against-corpus MinHash LSH: the batch (doc_id % 3 == 0) is
    paired with corpus docs (doc_id % 10 < 8) sharing a band bucket; a
    bucket holding more than max_bucket CORPUS docs is dropped. Pairs are
    scored by exact Jaccard over distinct word 3-gram sets."""
    docs = load_table(sf, "documents")
    band_rows = minhash_band_rows(docs)
    corpus = defaultdict(list)
    for did, b, bucket in band_rows:
        if did % 10 < 8:
            corpus[(b, bucket)].append(did)
    pairs = set()
    for did, b, bucket in band_rows:
        members = corpus.get((b, bucket), [])
        if did % 3 == 0 and len(members) <= max_bucket:
            pairs.update((did, c) for c in members)
    grams = {r["doc_id"]: set(distinct_grams(r["text"], 3))
             for _, r in docs.iterrows()}
    rows = []
    for a, c in pairs:
        inter = len(grams[a] & grams[c])
        uni = len(grams[a]) + len(grams[c]) - inter
        rows.append((a, c, inter, uni, round(inter / uni, 6)))
    return pd.DataFrame(rows, columns=["batch_id", "corpus_id", "inter", "uni", "jaccard"])


def x_graph_pagerank(sf, iters=5, scale=1000000):
    """Fixed-point integer PageRank (d=0.85) over the MinHash near-dup
    graph: undirected edges, contrib = floor(r/deg), r' = 0.15*scale +
    floor(85*sum/100) — exact integer arithmetic end to end."""
    docs = load_table(sf, "documents")
    eligible = docs[[len(tokens(t if t is not None else None)) >= 3
                     for t in docs["text"]]]
    pairs = minhash_pairs(eligible)
    adj_out = defaultdict(list)  # src -> dsts (undirected: both ways)
    for a, b in pairs:
        adj_out[a].append(b)
        adj_out[b].append(a)
    ids = list(docs["doc_id"])
    ranks = {i: scale for i in ids}
    base = 15 * scale // 100
    for _ in range(iters):
        incoming = defaultdict(int)
        for src, dsts in adj_out.items():
            c = ranks[src] // len(dsts)
            for d in dsts:
                incoming[d] += c
        ranks = {i: base + (85 * incoming.get(i, 0)) // 100 for i in ids}
    return pd.DataFrame(sorted(ranks.items()), columns=["doc_id", "rank_units"])


def x_corpus_zorder(sf, bits=16, n_buckets=16):
    """Morton (Z-order) interleave of clamped (n_chars, token count):
    x on even bits, y on odd; bucket = top log2(nBuckets) bits."""
    docs = load_table(sf, "documents")
    maxv = (1 << bits) - 1
    shift = 2 * bits - n_buckets.bit_length() + 1  # log2(nBuckets) top bits
    rows = []
    for _, r in docs.iterrows():
        zx = min(int(r["n_chars"]), maxv)
        # Spark's least() skips nulls: a null text's token count clamps
        # to the max, mirroring least(null, maxv) = maxv
        zy = maxv if r["text"] is None else min(len(tokens(r["text"])), maxv)
        z = 0
        for b in range(bits):
            z |= ((zx >> b) & 1) << (2 * b)
            z |= ((zy >> b) & 1) << (2 * b + 1)
        rows.append((r["doc_id"], zx, zy, z, z >> shift))
    return pd.DataFrame(rows, columns=["doc_id", "zx", "zy", "zvalue", "zbucket"])


# ---------------------------------------------------------------- main

CHECKS = {
    "text_entropy": x_text_entropy,
    "text_unigram_lp": x_text_unigram_lp,
    "text_bm25": x_text_bm25,
    "text_winnow": x_text_winnow,
    "dedup_winnow_pairs": x_dedup_winnow_pairs,
    "sketch_hll_users": x_sketch_hll_users,
    "sketch_cm_counts": x_sketch_cm_counts,
    "sketch_hist_quantiles": x_sketch_hist_quantiles,
    "sketch_heavy_hitters": x_sketch_heavy_hitters,
    "event_rate_anomaly": x_event_rate_anomaly,
    "corpus_bpe_pairs": x_corpus_bpe_pairs,
    "corpus_bpe_learn100": x_corpus_bpe_learn100,
    "ann_pq_topk": x_ann_pq_topk,
    "ann_ivfpq_trained_topk": x_ann_ivfpq_trained_topk,
    "dedup_simhash": x_dedup_simhash,
    "dedup_simhash_pairs": x_dedup_simhash_pairs,
    "dedup_incremental_near": x_dedup_incremental_near,
    "graph_pagerank": x_graph_pagerank,
    "corpus_zorder": x_corpus_zorder,
}


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out01"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    failures = 0
    for name, fn in CHECKS.items():
        if only and name not in only:
            continue
        try:
            mine = fn(sf)
            theirs = load_result(out, name)
            err = compare(name, mine, theirs)
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            err = f"FAIL {name}: exception {type(e).__name__}: {e}"
        if err:
            print(err)
            failures += 1
        else:
            print(f"PASS {name} ({len(mine)} rows)")
    print(f"\n{len(CHECKS) if not only else len(only)} checked, {failures} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
