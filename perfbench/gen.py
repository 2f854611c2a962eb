"""Seeded input generator for the graft workload benchmark.

Every input a run uses is a pure function of (workload, seed, SIZES): the
same seed writes byte-identical files. Besides the inputs, the generator
writes the expected outputs the benchmark checks against, computed
independently of graft (numpy, one scan per rule — the reference
tag_computer.py algorithm, with SQL three-valued logic).

Layout under <cache>/seed=<n>/:
  tags/today/{user_profile,user_behavior}.parquet    full user tables
  tags/yesterday/...                                  yesterday's tables
  tags/rules.parquet                                  ~200 JSON rules
  tags/expected.json      per-tag hits over today, per-op expected tags
  tags/ops/op=<k>/{user_profile,user_behavior}.parquet   tag_delta inputs
  cdc/batch=<b>.parquet, cdc/evals.parquet, cdc/expected.json
  serve/docs.parquet, serve/vectors.parquet, serve/queries.parquet
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Input sizes. They set how much work one op is; changing them changes
# the benchmark (see README.md, "Sizing").
SIZES = {
    "tag_users": 10000,       # users in today's / yesterday's tables
    "tag_rules_per_table": 100,
    "tag_delta_frac": 0.01,   # users per tag_delta op, as a share of tag_users
    "tag_delta_ops": 24,      # ops generated; a run uses a prefix
    "cdc_seed_docs": 3000,
    "cdc_delta_docs": 300,
    "cdc_deltas": 24,
    "cdc_eval_docs": 200,
    "serve_docs": 2000,
    "serve_vectors": 3000,    # ids >= serve_docs carry a vector but no text
    "serve_dim": 32,
    "serve_clusters": 24,
    "serve_batch": 48,        # queries per op
    "serve_batches": 12,
}

ACCEPT_SAMPLE = 2500
HIT_RATE = (0.002, 0.3)  # range of the share of users a rule tags
ANCHOR = np.datetime64("2024-06-30")
CITIES = ["beijing", "shanghai", "shenzhen", "hangzhou", "chengdu", "wuhan",
          "xian", "nanjing", "tianjin", "suzhou", "chongqing", "qingdao",
          "dalian", "xiamen", "kunming", "harbin"]
DEVICES = ["ios", "android", "web", "mini_app", "tv"]
CHANNELS = ["organic", "search_ad", "feed_ad", "referral", "partner_a", "partner_b"]
DOMAINS = ["gmail.com", "qq.com", "163.com", "outlook.com", "corp.example"]

PROFILE_COLS = {  # name -> kind
    "age": "int", "gender": "str", "city": "str", "level": "int",
    "register_date": "date", "total_asset_value": "float", "email": "str",
    "is_vip": "bool",
}
BEHAVIOR_COLS = {
    "last_login_date": "date", "order_count": "int", "total_spend": "float",
    "device": "str", "channel": "str", "last_order_date": "date",
    "coupon_used": "int",
}
TABLES = {"user_profile": PROFILE_COLS, "user_behavior": BEHAVIOR_COLS}


# ---------------------------------------------------------------- tables

def _nulls(rng, n, rate):
    return rng.random(n) < rate


def make_tables(rng, ids):
    """Column arrays + null masks for both tables, one row per user."""
    n = len(ids)
    days = lambda lo, hi: ANCHOR - rng.integers(lo, hi, n).astype("timedelta64[D]")
    prof = {
        "age": (rng.integers(16, 80, n), _nulls(rng, n, 0.03)),
        "gender": (rng.choice(np.array(["M", "F"], dtype=object), n), _nulls(rng, n, 0.05)),
        "city": (rng.choice(np.array(CITIES, dtype=object), n,
                            p=_zipf_p(len(CITIES), 1.1)), _nulls(rng, n, 0.04)),
        "level": (rng.integers(1, 11, n), _nulls(rng, n, 0.0)),
        "register_date": (days(1, 3000), _nulls(rng, n, 0.0)),
        "total_asset_value": (np.round(rng.lognormal(10.0, 1.5, n), 2), _nulls(rng, n, 0.08)),
        "email": (np.array([f"u{i}@{DOMAINS[i % len(DOMAINS)]}" for i in ids], dtype=object),
                  _nulls(rng, n, 0.1)),
        "is_vip": (rng.random(n) < 0.15, _nulls(rng, n, 0.02)),
    }
    beh = {
        "last_login_date": (days(0, 400), _nulls(rng, n, 0.02)),
        "order_count": (rng.poisson(6, n), _nulls(rng, n, 0.0)),
        "total_spend": (np.round(rng.lognormal(6.0, 1.2, n), 2), _nulls(rng, n, 0.05)),
        "device": (rng.choice(np.array(DEVICES, dtype=object), n), _nulls(rng, n, 0.03)),
        "channel": (rng.choice(np.array(CHANNELS, dtype=object), n), _nulls(rng, n, 0.06)),
        "last_order_date": (days(0, 700), _nulls(rng, n, 0.2)),
        "coupon_used": (rng.integers(0, 12, n), _nulls(rng, n, 0.1)),
    }
    return {"user_profile": prof, "user_behavior": beh}


def perturb(rng, ids, tables, frac):
    """Yesterday -> today: re-draw the attributes of `frac` of the users."""
    fresh = make_tables(rng, ids)
    pick = rng.random(len(ids)) < frac
    out = {}
    for t, cols in tables.items():
        out[t] = {}
        for c, (v, nm) in cols.items():
            fv, fnm = fresh[t][c]
            out[t][c] = (np.where(pick, fv, v), np.where(pick, fnm, nm))
    return out


def subset(tables, idx):
    return {t: {c: (v[idx], nm[idx]) for c, (v, nm) in cols.items()}
            for t, cols in tables.items()}


def _arrow_col(kind, v, nm):
    mask = nm.astype(bool)
    if kind == "int":
        return pa.array(v.astype(np.int32), type=pa.int32(), mask=mask)
    if kind == "float":
        return pa.array(v.astype(np.float64), type=pa.float64(), mask=mask)
    if kind == "bool":
        return pa.array(v.astype(bool), type=pa.bool_(), mask=mask)
    if kind == "date":
        return pa.array(v.astype("datetime64[D]"), type=pa.date32(), mask=mask)
    return pa.array(list(v), type=pa.string(), mask=mask)


def write_tables(d, ids, tables):
    os.makedirs(d, exist_ok=True)
    for t, spec in TABLES.items():
        arrays = [pa.array(ids, type=pa.int64())]
        names = ["user_id"]
        for c, kind in spec.items():
            v, nm = tables[t][c]
            arrays.append(_arrow_col(kind, v, nm))
            names.append(c)
        _write(pa.Table.from_arrays(arrays, names=names), os.path.join(d, f"{t}.parquet"))


def _write(table, path):
    # one file, fixed row groups, no per-write metadata: byte-identical
    # for identical content
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _zipf_p(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------- rules

OPS = {
    "int": ["=", "!=", ">", "<", ">=", "<=", "in", "not_in", "in_range",
            "not_in_range", "is_null", "is_not_null"],
    "float": [">", "<", ">=", "<=", "in_range", "not_in_range", "is_null"],
    "str": ["=", "!=", "in", "not_in", "contains", "not_contains",
            "starts_with", "ends_with", "is_null", "is_not_null"],
    "date": ["recent_days", "days_ago", "days_ago_between", "date_between",
             "is_null", "is_not_null"],
    "bool": ["="],
}


_SORTED = {}


def _live(v, nm, kind):
    """Non-null values of a column, sorted for the ordered kinds (cached:
    rule drawing asks for the same column thousands of times)."""
    key = (id(v), id(nm))
    if key not in _SORTED:
        live = v[~nm.astype(bool)]
        _SORTED[key] = (v, nm, live, np.sort(live) if kind in ("int", "float", "date") else None)
    return _SORTED[key][2:]


def _leaf(rng, spec, tables_t):
    fields = sorted(spec)
    field = fields[rng.integers(len(fields))]
    kind = spec[field]
    op = OPS[kind][rng.integers(len(OPS[kind]))]
    v, nm = tables_t[field]
    live, srt = _live(v, nm, kind)
    value = None
    if kind in ("int", "float"):
        a, b = sorted(rng.random(2))
        lo, hi = srt[int(a * (len(srt) - 1))], srt[int(b * (len(srt) - 1))]
        conv = int if kind == "int" else (lambda x: round(float(x), 2))
        if op in ("in", "not_in"):
            value = sorted({int(x) for x in rng.choice(live, 3)})
        elif op in ("in_range", "not_in_range"):
            value = [conv(lo), conv(hi)]
        elif op not in ("is_null", "is_not_null"):
            value = conv(srt[int(rng.random() * (len(srt) - 1))])
    elif kind == "str":
        pick = str(rng.choice(live))
        if op in ("=", "!="):
            value = pick
        elif op in ("in", "not_in"):
            value = sorted({str(x) for x in rng.choice(live, 3)})
        elif op in ("contains", "not_contains"):
            k = int(rng.integers(1, max(2, len(pick))))
            value = pick[k - 1:k + 1]
        elif op == "starts_with":
            value = pick[:2]
        elif op == "ends_with":
            value = pick[-3:]
    elif kind == "date":
        if op in ("recent_days", "days_ago"):
            value = int(rng.integers(7, 400))
        elif op == "days_ago_between":
            a, b = sorted(rng.integers(0, 700, 2))
            value = [int(a), int(b) + 1]
        elif op == "date_between":
            a, b = sorted(rng.random(2))
            lo, hi = srt[int(a * (len(srt) - 1))], srt[int(b * (len(srt) - 1))]
            value = [str(lo), str(hi)]
    elif kind == "bool":
        value = bool(rng.random() < 0.5)
    node = {"field": field, "operator": op}
    if value is not None:
        node["value"] = value
    return node


def _tree(rng, spec, tables_t, depth):
    if depth == 0 or rng.random() < 0.35:
        return _leaf(rng, spec, tables_t)
    logic = ["AND", "AND", "OR", "OR", "NOT"][rng.integers(5)]
    n = 1 if logic == "NOT" and rng.random() < 0.5 else int(rng.integers(2, 4))
    return {"logic": logic, "conditions": [_tree(rng, spec, tables_t, depth - 1) for _ in range(n)]}


def make_rules(rng, tables):
    """Random rule trees, redrawn until each tags close to its target
    share of users. The targets are fixed and log-spaced over HIT_RATE,
    so every seed has the same spread of rare and common tags (and about
    the same tags per user) while the rules themselves differ."""
    n = SIZES["tag_rules_per_table"]
    targets = np.geomspace(HIT_RATE[0], HIT_RATE[1], n)
    rows = []
    tag = 1
    for t, spec in TABLES.items():
        # candidates are judged on a fixed sample of the users (cheaper)
        sample = {c: (v[:ACCEPT_SAMPLE], nm[:ACCEPT_SAMPLE]) for c, (v, nm) in tables[t].items()}
        for target in rng.permutation(targets):
            while True:
                root = _tree(rng, spec, tables[t], 3)
                if "conditions" not in root:  # the top level is always a group
                    root = {"logic": "AND", "conditions": [root]}
                rate = eval_rule(root, sample)[0].mean()
                if target / 2 <= rate <= target * 2:
                    break
            rows.append((tag, f"tag_{tag}", f"cat_{tag % 7}", t, json.dumps(root, sort_keys=True)))
            tag += 1
    return rows


# ------------------------------------------- reference rule evaluation

def eval_rule(node, cols):
    """(T, F) boolean masks under SQL three-valued logic; a row is tagged
    iff T. One vectorised scan of the table per rule."""
    n = len(next(iter(cols.values()))[0])
    if "conditions" in node:
        parts = [eval_rule(c, cols) for c in node["conditions"]]
        if parts:
            t_and = np.logical_and.reduce([p[0] for p in parts])
            f_and = np.logical_or.reduce([p[1] for p in parts])
            t_or = np.logical_or.reduce([p[0] for p in parts])
            f_or = np.logical_and.reduce([p[1] for p in parts])
        else:
            t_and = t_or = np.ones(n, bool)
            f_and = f_or = np.zeros(n, bool)
        logic = node.get("logic", "AND").upper()
        if logic == "OR":
            return t_or, f_or
        if logic == "NOT":
            return f_and, t_and
        return t_and, f_and
    v, nm = cols[node["field"]]
    nm = nm.astype(bool)
    op, val = node["operator"], node.get("value")
    if op == "is_null":
        return nm.copy(), ~nm
    if op == "is_not_null":
        return ~nm, nm.copy()
    if isinstance(v[0], np.datetime64) or v.dtype.kind == "M":
        d = v.astype("datetime64[D]")
        days = lambda k: ANCHOR - np.timedelta64(int(k), "D")
        if op == "recent_days":
            c = d >= days(val)
        elif op == "days_ago":
            c = d <= days(val)
        elif op == "days_ago_between":
            c = (d >= days(val[1])) & (d <= days(val[0]))
        else:  # date_between
            c = (d >= np.datetime64(val[0])) & (d <= np.datetime64(val[1]))
    elif v.dtype == object:
        s = v
        if op == "=":
            c = s == val
        elif op == "!=":
            c = s != val
        elif op == "in":
            c = np.isin(s, val)
        elif op == "not_in":
            c = ~np.isin(s, val)
        else:
            arr = _arrow_strings(s)
            if op in ("contains", "not_contains"):
                c = pc.match_substring(arr, val).to_numpy(zero_copy_only=False)
                c = c if op == "contains" else ~c
            elif op == "starts_with":
                c = pc.starts_with(arr, val).to_numpy(zero_copy_only=False)
            else:  # ends_with
                c = pc.ends_with(arr, val).to_numpy(zero_copy_only=False)
    else:
        x = v
        if op == "=":
            c = x == val
        elif op == "!=":
            c = x != val
        elif op == ">":
            c = x > val
        elif op == "<":
            c = x < val
        elif op == ">=":
            c = x >= val
        elif op == "<=":
            c = x <= val
        elif op == "in":
            c = np.isin(x, val)
        elif op == "not_in":
            c = ~np.isin(x, val)
        elif op == "in_range":
            c = (x >= val[0]) & (x <= val[1])
        else:  # not_in_range
            c = ~((x >= val[0]) & (x <= val[1]))
    c = np.asarray(c, bool)
    return c & ~nm, ~c & ~nm


_ARROW = {}


def _arrow_strings(s):
    if id(s) not in _ARROW:
        _ARROW[id(s)] = (s, pa.array(list(s), type=pa.string()))
    return _ARROW[id(s)][1]


def tag_lists(rules, tables, only=None):
    """Per-row sorted tag-id lists (the reference's memory merge)."""
    n = len(next(iter(tables["user_profile"].values()))[0])
    out = [[] for _ in range(n)]
    for tag, _, _, table, rj in rules:
        if only is not None and tag not in only:
            continue
        hit, _ = eval_rule(json.loads(rj), tables[table])
        for i in np.flatnonzero(hit):
            out[i].append(tag)
    return out


# ---------------------------------------------------------------- tags

def gen_tags(root, seed):
    rng = np.random.default_rng([seed, 1])
    n = SIZES["tag_users"]
    # ids spread over a wide key space, so every delta hits many buckets
    ids = np.sort(rng.choice(np.arange(1, 40 * n, dtype=np.int64), n, replace=False))
    yesterday = make_tables(rng, ids)
    today = perturb(rng, ids, yesterday, 0.1)
    rules = make_rules(rng, today)
    write_tables(os.path.join(root, "yesterday"), ids, yesterday)
    write_tables(os.path.join(root, "today"), ids, today)
    _write(pa.table({
        "tag_id": pa.array([r[0] for r in rules], pa.int32()),
        "tag_name": [r[1] for r in rules], "tag_category": [r[2] for r in rules],
        "source_table": [r[3] for r in rules], "rule_json": [r[4] for r in rules],
    }), os.path.join(root, "rules.parquet"))

    hits = {}
    for tag, _, _, table, rj in rules:
        hits[str(tag)] = int(eval_rule(json.loads(rj), today[table])[0].sum())

    # tag_delta ops: ~1% of users each, spread over the key space. Op
    # types rotate incremental / tag subset / specific users.
    k = max(1, int(n * SIZES["tag_delta_frac"]))
    all_tags = [r[0] for r in rules]
    ops = []
    next_id = 40 * n  # fresh ids lie above every existing one
    for j in range(SIZES["tag_delta_ops"]):
        kind = ["incremental", "subset", "users"][j % 3]
        if kind == "incremental":
            n_new = k // 2
            old_idx = rng.choice(n, k - n_new, replace=False)
            new_ids = next_id + np.sort(rng.choice(np.arange(1, 40 * n, dtype=np.int64),
                                                   n_new, replace=False))
            next_id = int(new_ids.max()) + 1
            op_ids = np.concatenate([ids[old_idx], new_ids])
            op_tables = make_tables(rng, op_ids)
            scope = None
        else:
            old_idx = np.sort(rng.choice(n, k, replace=False))
            op_ids = ids[old_idx]
            op_tables = perturb(rng, op_ids, subset(today, old_idx), 0.5)
            scope = None
            if kind == "subset":
                picked = rng.choice(all_tags, min(20, len(all_tags) // 2), replace=False)
                scope = sorted(int(t) for t in picked)
        order = np.argsort(op_ids)
        op_ids, op_tables = op_ids[order], subset(op_tables, order)
        write_tables(os.path.join(root, "ops", f"op={j}"), op_ids, op_tables)
        new = tag_lists(rules, op_tables, None if scope is None else set(scope))
        ops.append({"kind": kind, "tags": scope,
                    "users": [int(u) for u in op_ids],
                    "new": [sorted(x) for x in new]})
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump({"hits": hits, "anchor": str(ANCHOR), "ops": ops}, f, sort_keys=True)


# ---------------------------------------------------------------- text

LANGS = {"en": "tkrslmnpdbg", "de": "szchtrknbgw", "fr": "lrmnptvsdqj", "es": "lrsnmtdcbpv"}
VOWELS = {"en": "aeiou", "de": "aeiouy", "fr": "aeiouy", "es": "aeiou"}
STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that"]


def make_vocab(rng, lang, size):
    cons, vow = LANGS[lang], VOWELS[lang]
    words = set()
    while len(words) < size:
        syl = int(rng.integers(2, 5))
        words.add("".join(rng.choice(list(cons)) + rng.choice(list(vow)) for _ in range(syl)))
    return np.array(sorted(words), dtype=object)


def make_docs(rng, n, vocabs, lang_p):
    """Documents of 60-140 words from a Zipf vocabulary per language,
    with English stopwords mixed in (the clean stage's quality floor)."""
    langs = list(vocabs)
    doc_lang = rng.choice(len(langs), n, p=lang_p)
    texts = []
    for li in doc_lang:
        voc = vocabs[langs[li]]
        m = int(rng.integers(60, 140))
        ranks = np.minimum(rng.zipf(1.15, m), len(voc)) - 1
        ws = voc[ranks].tolist()
        for pos in rng.choice(m, m // 8, replace=False):
            ws[pos] = STOP[int(pos) % len(STOP)]
        texts.append(" ".join(ws))
    return [langs[i] for i in doc_lang], texts


def near_copy(rng, text):
    """Near duplicate: a short suffix edit that keeps Jaccard >= 0.9."""
    ws = text.split(" ")
    return " ".join(ws + ["zq" + str(int(rng.integers(10, 99)))])


def _doc_table(ids, langs, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "lang": langs, "text": texts})


def gen_cdc(root, seed):
    rng = np.random.default_rng([seed, 2])
    vocabs = {l: make_vocab(rng, l, 3000) for l in LANGS}
    lang_p = [0.55, 0.2, 0.15, 0.1]
    os.makedirs(root, exist_ok=True)
    langs, texts = make_docs(rng, SIZES["cdc_seed_docs"], vocabs, lang_p)
    ids = list(range(1, len(texts) + 1))
    # planted intra-seed duplicates: exact and near copies
    for j in range(0, len(texts) // 50):
        src = int(rng.integers(0, len(texts) // 2))
        dst = len(texts) // 2 + j
        texts[dst] = texts[src] if j % 2 == 0 else near_copy(rng, texts[src])
        langs[dst] = langs[src]
    _write(_doc_table(ids, langs, texts), os.path.join(root, "batch=1.parquet"))
    history = list(zip(ids, langs, texts))
    evals = [history[int(i)][2] for i in rng.choice(len(history), 5, replace=False)]
    # the rest of the eval set shares no vocabulary with the corpus, so
    # only the planted overlaps are contamination
    eval_vocab = {l: np.array([w + "x" for w in v], dtype=object) for l, v in vocabs.items()}
    eval_langs, eval_texts = make_docs(rng, SIZES["cdc_eval_docs"] - len(evals), eval_vocab, lang_p)
    _write(pa.table({"doc_id": pa.array(range(900000000, 900000000 + SIZES["cdc_eval_docs"]), pa.int64()),
                     "text": evals + eval_texts}), os.path.join(root, "evals.parquet"))
    next_id = len(texts) + 1
    planted = {}
    for b in range(2, SIZES["cdc_deltas"] + 2):
        m = SIZES["cdc_delta_docs"]
        dl, dt = make_docs(rng, m, vocabs, lang_p)
        did = list(range(next_id, next_id + m))
        next_id += m
        exact = []
        # copies of earlier-batch docs: exact (must drop) and near
        for j in range(m // 20):
            src = history[int(rng.integers(0, len(history)))]
            if j % 2 == 0:
                dt[j], dl[j] = src[2], src[1]
                exact.append(did[j])
            else:
                dt[j], dl[j] = near_copy(rng, src[2]), src[1]
        # one doc overlaps the eval set
        dt[m - 1] = evals[b % len(evals)]
        _write(_doc_table(did, dl, dt), os.path.join(root, f"batch={b}.parquet"))
        history.extend(zip(did, dl, dt))
        planted[str(b)] = exact
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump({"exact_dups": planted}, f, sort_keys=True)


# ---------------------------------------------------------------- serve

def gen_serve(root, seed):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    vocab = make_vocab(rng, "en", 6000)
    n_docs, n_vec, dim = SIZES["serve_docs"], SIZES["serve_vectors"], SIZES["serve_dim"]
    langs, texts = make_docs(rng, n_docs, {"en": vocab}, [1.0])
    ids = np.arange(n_vec, dtype=np.int64)
    _write(pa.table({"doc_id": pa.array(ids[:n_docs]), "text": texts}),
           os.path.join(root, "docs.parquet"))
    # gaussian mixture: ANN recall depends on clustering
    centers = rng.normal(0, 1, (SIZES["serve_clusters"], dim))
    assign = rng.integers(0, len(centers), n_vec)
    vecs = (centers[assign] + rng.normal(0, 0.35, (n_vec, dim))).astype(np.float32)
    _write(pa.table({"id": pa.array(ids),
                     "vec": pa.array(list(vecs), type=pa.list_(pa.float32()))}),
           os.path.join(root, "vectors.parquet"))
    # each query comes from a known doc: rare words of its text plus its
    # vector with noise, so the doc is the ground-truth top hit
    rank = {w: i for i, w in enumerate(vocab)}
    q = SIZES["serve_batch"] * SIZES["serve_batches"]
    src = rng.choice(n_docs, q, replace=False)
    qtext, qvec = [], []
    for s in src:
        ws = sorted(set(texts[s].split(" ")) - set(STOP), key=lambda w: -rank.get(w, 0))
        qtext.append(" ".join(ws[:4]))
        qvec.append((vecs[s] + rng.normal(0, 0.05, dim)).astype(np.float32))
    _write(pa.table({
        "query_id": pa.array(np.arange(q, dtype=np.int64)),
        "batch": pa.array(np.arange(q) // SIZES["serve_batch"], pa.int32()),
        "qtext": qtext,
        "vec": pa.array(qvec, type=pa.list_(pa.float32())),
        "src_doc": pa.array(src.astype(np.int64))}), os.path.join(root, "queries.parquet"))


GENERATORS = {"tags": gen_tags, "cdc": gen_cdc, "serve": gen_serve}
WORKLOAD_INPUTS = {"tag_full": "tags", "tag_delta": "tags", "curate_cdc": "cdc",
                   "serve_hybrid": "serve"}


def ensure(cache, workload, seed):
    """Generate (once per seed) the inputs `workload` reads; returns the dir."""
    kind = WORKLOAD_INPUTS[workload]
    d = os.path.join(cache, f"seed={seed}", kind)
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        GENERATORS[kind](tmp, seed)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


if __name__ == "__main__":
    # python3 gen.py <out dir> <tags|cdc|serve> <seed>
    GENERATORS[sys.argv[2]](sys.argv[1], int(sys.argv[3]))
