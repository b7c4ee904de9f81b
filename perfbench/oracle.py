"""Independent correctness checks, computed in plain Python from the
generated inputs and never from a saved copy of the program's output.

Each `expect_*` derives what the program must produce; each `check_*`
compares one pass's (or round's) outputs against it and returns one
short reason per failed operation.
"""
import json
import math
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from gen import split_of

# ------------------------------------------------------------------ eth


def _num(x):
    """float(x), or None where the reference's good_line float() fails."""
    try:
        return float(x)
    except ValueError:
        return None


def expect_eth(d):
    """The six jobs' outputs, file by file: (rows, ordered)."""
    with open(f"{d}/contracts.csv") as fh:
        ct = [l.split(",") for l in fh.read().splitlines()]
    with open(f"{d}/contractsTop10.csv") as fh:
        top = {f[1] for f in (l.split(",") for l in fh.read().splitlines()) if len(f) >= 2}
    scams = json.load(open(f"{d}/scams.json"))["result"]
    addr2scam = defaultdict(list)
    for v in scams.values():
        for a in v["addresses"]:
            addr2scam[a].append((v["id"], v["category"]))
    c_pref = defaultdict(int)   # contracts with the 0x check (job B)
    c_all = defaultdict(int)    # contracts by arity only (job E)
    for f in ct:
        if len(f) == 6:
            c_all[f[0]] += 1
            if f[0].startswith("0x"):
                c_pref[f[0]] += 1

    months = {}

    def month(ts):
        """UTC (MM-yyyy, MM/yyyy) of whole epoch seconds, cached per day."""
        day = int(ts) // 86400
        m = months.get(day)
        if m is None:
            t = time.gmtime(day * 86400)
            m = months[day] = (time.strftime("%m-%Y", t), time.strftime("%m/%Y", t))
        return m

    cnt, tot = defaultdict(int), defaultdict(float)
    recv = defaultdict(float)
    by_id, by_cat, by_mc = defaultdict(float), defaultdict(float), defaultdict(float)
    gp_s, gp_n = defaultdict(float), defaultdict(int)
    gu_s, gu_n = defaultdict(float), defaultdict(int)
    tc_s, tc_n = defaultdict(float), defaultdict(int)
    with open(f"{d}/transactions.csv") as fh:
        for line in fh:
            f = line.rstrip("\n").split(",")
            if len(f) != 15:
                continue
            val, ts, gp = _num(f[7]), _num(f[11]), _num(f[9])
            to = f[6]
            if val is not None and ts is not None:
                m = month(ts)[0]
                cnt[m] += 1
                tot[m] += val
                for sid, cat in addr2scam.get(to, ()):
                    by_id[sid] += val
                    by_cat[cat] += val
                    by_mc[(m, cat)] += val
            if val is not None and to in c_pref:
                recv[to] += val * c_pref[to]
            if gp is not None and ts is not None:
                m = month(ts)[1]
                gp_s[m] += gp
                gp_n[m] += 1
                mult = c_all.get(to, 0)
                if mult:
                    gas = float(f[8])
                    gu_s[m] += gas * mult
                    gu_n[m] += mult
                    if to in top:
                        tc_s[m] += gas * mult
                        tc_n[m] += mult
    size = defaultdict(float)
    bits = 0
    with open(f"{d}/blocks.csv") as fh:
        for line in fh:
            f = line.rstrip("\n").split(",")
            if len(f) != 19:
                continue
            sz = _num(f[12])
            if sz is None:
                continue
            size[f[9]] += sz
            if f[9] != "" and f[0].lstrip("-").isdigit():
                bits += (len(f[4]) + len(f[5]) + len(f[6]) + len(f[7]) + len(f[8]) - 10) * 4

    def top_by(items, k):
        return [list(x) for x in sorted(items, key=lambda x: (-x[1], x[0]))[:k]]

    return {
        "count_.txt": ([[k, v] for k, v in cnt.items()], False),
        "avg_.txt": ([[k, tot[k] / cnt[k]] for k in cnt], False),
        "contractTop10.txt": (top_by(recv.items(), 10), True),
        "minerTop.txt": (top_by(size.items(), 10), True),
        "lucrativeID.txt": (top_by(by_id.items(), 1), True),
        "lucrativeCategory.txt": (top_by(by_cat.items(), 1), True),
        "changeWithTime.txt": ([[m, c, v] for (m, c), v in by_mc.items()], False),
        "avg_gasprice.txt": ([[m, gp_s[m] / gp_n[m]] for m in gp_s], False),
        "avg_gasused.txt": ([[m, gu_s[m] / gu_n[m]] for m in sorted(gu_s)][:100], True),
        "contractWithGas.txt": ([[m, tc_s[m] / tc_n[m]] for m in tc_s], False),
        "dataoverhead.txt": ([[1, bits]], True),
    }


ETH_FILES = {  # job -> the files it writes
    "transactionsAnalysis": ["count_.txt", "avg_.txt"],
    "top10Contracts": ["contractTop10.txt"],
    "topMiners": ["minerTop.txt"],
    "scams": ["lucrativeID.txt", "lucrativeCategory.txt", "changeWithTime.txt"],
    "gasGuzzlers": ["avg_gasprice.txt", "avg_gasused.txt", "contractWithGas.txt"],
    "dataOverhead": ["dataoverhead.txt"],
}


def _close(a, b):
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return False


def _rows_equal(got, exp, ordered):
    def norm(rows):
        return [tuple(x if isinstance(x, str) else float(x) for x in r) for r in rows]
    g, e = norm(got), norm(exp)
    if not ordered:
        g, e = sorted(g, key=str), sorted(e, key=str)
    return len(g) == len(e) and all(
        len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
        for x, y in zip(g, e))


def check_eth(expected, out_dir):
    """Failed jobs of one pass, each with its reason."""
    fails = []
    for job, files in ETH_FILES.items():
        for name in files:
            path = f"{out_dir}/{name}"
            try:
                got = json.load(open(path))
            except (OSError, ValueError) as e:
                fails.append(f"{job}: {name} unreadable ({e})")
                break
            rows, ordered = expected[name]
            if not _rows_equal(got, rows, ordered):
                fails.append(f"{job}: {name} differs")
                break
    return fails

# --------------------------------------------------------------- corpus


def _tokens(t):
    return t.split(" ")


def _grams(toks, n=3):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _gopher_keep(t):
    toks = _tokens(t)
    n = len(toks)
    mean = sum(len(w) for w in toks) / n
    top = max(toks.count(w) for w in set(toks)) / n
    return 20 <= n <= 90 and 3.8 <= mean <= 5.2 and top <= 0.12


def _dedup_keep(ids, texts):
    """Docs kept by exact + near (3-gram Jaccard >= 0.6) dedup: the
    smallest id of every connected component."""
    sh = {i: _grams(_tokens(texts[i])) for i in ids}
    index = defaultdict(list)
    for i in ids:
        for g in sh[i]:
            index[g].append(i)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for docs in index.values():
        if len(docs) < 2 or len(docs) > 200:
            continue
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                x, y = docs[a], docs[b]
                if (x, y) in seen:
                    continue
                seen.add((x, y))
                inter = len(sh[x] & sh[y])
                if texts[x] == texts[y] or inter / (len(sh[x]) + len(sh[y]) - inter) >= 0.6:
                    rx, ry = find(x), find(y)
                    if rx != ry:
                        parent[max(rx, ry)] = min(rx, ry)
    return {i for i in ids if find(i) == i}


def _quotas(counts, budget):
    """Temperature (alpha = 1/2) quotas with largest-remainder leftovers."""
    w = {k: math.isqrt(n) for k, n in counts.items()}
    tot = sum(w.values())
    base = {k: (budget * wi // tot, budget * wi % tot) for k, wi in w.items()}
    left = budget - sum(q for q, _ in base.values())
    bonus = {k for k, _ in sorted(base.items(), key=lambda kv: (-kv[1][1], kv[0]))[:left]}
    return {k: q + (1 if k in bonus else 0) for k, (q, _) in base.items()}


def expect_corpus(d):
    """Stage-by-stage expectations over the generated documents."""
    t = pq.read_table(f"{d}/documents.parquet").to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    langs = dict(zip(t["doc_id"], t["lang"]))
    s1 = sorted(i for i in texts if _gopher_keep(texts[i]))
    s2 = sorted(_dedup_keep(s1, texts))
    split = {i: split_of(texts[i]) for i in s2}
    eval_grams = set()
    for i in s2:
        if split[i] == "test":
            eval_grams |= _grams(_tokens(texts[i]))
    s3 = [i for i in s2 if split[i] == "train"
          and not (_grams(_tokens(texts[i])) & eval_grams)]
    counts = defaultdict(int)
    for i in s3:
        counts[langs[i]] += 1
    budget = len(s3) // 2
    quotas = _quotas(counts, budget)
    taken = defaultdict(int)
    mixed = []
    for i in s3:  # ascending doc_id: rank within language
        if taken[langs[i]] < quotas[langs[i]]:
            taken[langs[i]] += 1
            mixed.append(i)
    planted = json.load(open(f"{d}/planted.json"))
    selected = {k: min(q, counts[k]) for k, q in quotas.items() if min(q, counts[k])}
    return {"s1": s1, "s2": s2, "s3": s3, "budget": budget,
            "selected": selected, "mixed": mixed, "texts": texts, "langs": langs,
            "eval_grams": eval_grams, "groups": planted["groups"],
            "contaminated": [p["doc_id"] for p in planted["contaminated"]]}


def _ids(path):
    return sorted(pq.read_table(path, columns=["doc_id"]).column(0).to_pylist())


def check_corpus(e, pass_dir):
    """Failed stages of one pass, each with its reason."""
    fails = []
    s1 = _ids(f"{pass_dir}/s1/documents.parquet")
    if s1 != e["s1"]:
        fails.append(f"quality: {len(s1)} kept, expected {len(e['s1'])}")
    s2 = _ids(f"{pass_dir}/s2/documents.parquet")
    kept = set(s2)
    in_s1 = set(e["s1"])
    lost = [g["members"] for g in e["groups"] if g["kind"] == "exact"
            and any(m in in_s1 for m in g["members"])
            and sum(m in kept for m in g["members"] if m in in_s1) != 1]
    if lost or s2 != e["s2"]:
        fails.append(f"dedup: {len(s2)} kept, expected {len(e['s2'])}; "
                     f"{len(lost)} exact groups without exactly one survivor")
    s3 = _ids(f"{pass_dir}/s3/documents.parquet")
    leaks = [i for i in s3 if _grams(_tokens(e["texts"][i])) & e["eval_grams"]]
    if leaks or s3 != e["s3"]:
        fails.append(f"decontamination: {len(s3)} kept, expected {len(e['s3'])}, "
                     f"{len(leaks)} share an eval 3-gram")
    fin = pq.read_table(f"{pass_dir}/final.parquet").to_pydict()
    back = pq.read_table(f"{pass_dir}/readback.parquet").to_pydict()
    cols = ["doc_id", "n_tokens", "start_tok", "chunk_id", "chunk_off", "lang", "text"]
    rows = sorted(zip(*(fin[c] for c in cols)))
    mixed = [r[0] for r in rows]
    per_lang = defaultdict(int)
    for r in rows:
        per_lang[r[5]] += 1
    pack_ok = True
    acc = 0
    for doc_id, n_tok, start, chunk, off, _, text in rows:
        if (n_tok != len(_tokens(text)) or start != acc or chunk != start // 2048
                or off != start % 2048):
            pack_ok = False
            break
        acc += n_tok
    if mixed != e["mixed"] or dict(per_lang) != e["selected"] or not pack_ok:
        fails.append(f"mixing and packing: {len(mixed)} selected, expected "
                     f"{len(e['mixed'])}; offsets are prefix sums: {pack_ok}")
    if sorted(zip(*(back[c] for c in cols))) != rows:
        fails.append("ctas: the table read back differs from the final frame")
    return fails

# ----------------------------------------------------------------- gseg


class GsegModel:
    """The table as the known feeds leave it, kept apart from the program."""

    def __init__(self, d):
        base = pq.read_table(f"{d}/base.parquet", columns=["k", "v"])
        k = base.column("k").to_numpy()
        self.d = d
        self.live = np.zeros(2 * len(k) + 2, dtype=bool)
        self.v = np.zeros(len(self.live), dtype=np.int64)
        self.live[k] = True
        self.v[k] = base.column("v").to_numpy()
        with open(f"{d}/reads.csv") as fh:
            self.reads = [tuple(map(int, l.split(","))) for l in fh.read().split()]

    def apply(self, r):
        """Apply round r's feed; return the changefeed rows it implies."""
        f = pq.read_table(f"{self.d}/feeds/{r}.parquet", columns=["k", "v", "op"]).to_pydict()
        k = np.array(f["k"]); v = np.array(f["v"]); op = np.array(f["op"])
        upd, dele, ins = op == "U", op == "D", op == "I"
        self.v[k[upd]] = v[upd]
        self.live[k[dele]] = False
        self.live[k[ins]] = True
        self.v[k[ins]] = v[ins]
        changes = {"insert": int(ins.sum()), "delete": int(dele.sum()),
                   "update_preimage": int(upd.sum()), "update_postimage": int(upd.sum())}
        return {t: n for t, n in changes.items() if n}

    def range_read(self, r):
        lo, hi = self.reads[r]
        m = self.live[lo:hi + 1]
        return int(m.sum()), int(self.v[lo:hi + 1][m].sum())

    def digest(self):
        k = np.nonzero(self.live)[0].astype(np.int64)
        v = self.v[k]
        return {"count": int(len(k)), "sum": int(v.sum()),
                "mix": int((k * 7 + v % 1000003).sum())}


def check_gseg(model, rounds, final):
    """Failed operations over all rounds (merge, changefeed, read per
    round), each with its reason; the final table state counts against
    the last round's merge."""
    fails = []
    for rd in rounds:
        r = rd["round"]
        want = model.apply(r)
        got = {t: n for t, n in rd["changes"].items() if n}
        if got != want:
            fails.append(f"round {r}: changefeed {got} != {want}")
        if (rd["count"], rd["sum"]) != model.range_read(r):
            fails.append(f"round {r}: range read {(rd['count'], rd['sum'])} "
                         f"!= {model.range_read(r)}")
    want = model.digest()
    if final is None or any(final[k] != want[k] for k in want):
        fails.append(f"final table {final} != {want}")
    return fails
