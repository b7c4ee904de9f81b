"""Seeded input generators for the three workloads.

Every generator takes the seed and an output directory and writes only
files; the program under test sees nothing else. The same seed gives
byte-identical files. Sizes are fixed per workload (see SIZES), so runs
with different seeds do the same amount of work on different data.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "eth_jobs": {"transactions": 100_000, "blocks": 40_000},
    "corpus_pipeline": {"documents": 2_000},
    "gseg_upsert": {"rows": 500_000, "feed": 20_000, "band": 60_000,
                    "read_band": 100_000, "rounds": 30},
}

# Reference data spans 08-2015 .. 02-2019 (43 months).
MONTH_STARTS = np.array([
    int(np.datetime64(f"{y}-{m:02d}-01", "s").astype(np.int64))
    for y, m in [(2015 + (7 + i) // 12, (7 + i) % 12 + 1) for i in range(44)]])


def _hex(rng, n, lo, hi):
    """n random '0x…' strings with hex lengths in [lo, hi)."""
    lens = rng.integers(lo, hi, n)
    s = rng.bytes(int(lens.sum()) // 2 + 1).hex()
    out, at = [], 0
    for L in lens.tolist():
        out.append("0x" + s[at:at + L])
        at += L
    return out


def _zipf_index(rng, n, size, a=1.2):
    """Indexes into a pool of `size`, Zipf-skewed, clipped to the pool."""
    return (rng.zipf(a, n) - 1) % size


def eth(seed, out):
    """Ethereum-ETL-shaped CSVs plus scams.json and contractsTop10.csv.

    Later months are heavier, `to_address` is Zipf-skewed, contracts
    and scam addresses are overlapping subsets of the address pool, and
    every class of row the `good_line` checks drop is present."""
    rng = np.random.default_rng(seed)
    n_tx, n_bl = SIZES["eth_jobs"]["transactions"], SIZES["eth_jobs"]["blocks"]
    os.makedirs(out, exist_ok=True)
    pool = [f"0x{h}" for h in
            (hashlib.sha1(f"{seed}-{i}".encode()).hexdigest() for i in range(20_000))]

    # month weights grow linearly: later months are heavier
    w = np.arange(1, 44, dtype=float)
    month = rng.choice(43, n_tx, p=w / w.sum())
    span = MONTH_STARTS[month + 1] - MONTH_STARTS[month]
    ts = MONTH_STARTS[month] + (rng.random(n_tx) * span).astype(np.int64)
    to = np.array(pool)[_zipf_index(rng, n_tx, len(pool))]
    value = rng.integers(0, 10**12, n_tx) * (rng.random(n_tx) < 0.9)
    gas = rng.integers(21_000, 500_000, n_tx)
    gas_price = rng.integers(10**9, 10**11, n_tx)
    to = to.astype(object)
    to[rng.random(n_tx) < 0.01] = ""  # contract creations: no to_address
    lines = [
        f"0x{i:x},{i % 97},0xb{i % 1000},{i // 50},{i % 50},0xf{i % 5000},"
        f"{t},{v},{g},{gp},0x,{s},,,0"
        for i, (t, v, g, gp, s) in enumerate(zip(
            to.tolist(), value.tolist(), gas.tolist(), gas_price.tolist(),
            ts.tolist()))]
    # malformed rows, one class per good_line check
    bad = rng.choice(n_tx, 5 * 200, replace=False).tolist()
    for j, i in enumerate(bad):
        f = lines[i].split(",")
        kind = j % 5
        if kind == 0:
            f = f[:9]                     # wrong arity (short)
        elif kind == 1:
            f = f + ["extra"]             # wrong arity (long)
        elif kind == 2:
            f[7] = "n/a"                  # value does not parse
        elif kind == 3:
            f[11] = ""                    # timestamp does not parse
        else:
            f[9] = "n/a"                  # gas_price does not parse
        lines[i] = ",".join(f)
    header = ("hash,nonce,block_hash,block_number,transaction_index,"
              "from_address,to_address,value,gas,gas_price,input,"
              "block_timestamp,max_fee_per_gas,max_priority_fee_per_gas,"
              "transaction_type")
    with open(f"{out}/transactions.csv", "w") as fh:
        fh.write(header + "\n" + "\n".join(lines) + "\n")

    miners = [f"0xm{h[:38]}" for h in
              (hashlib.sha1(f"m{seed}-{i}".encode()).hexdigest() for i in range(300))]
    bm = np.array(miners)[_zipf_index(rng, n_bl, len(miners), 1.4)].astype(object)
    bm[rng.random(n_bl) < 0.005] = ""  # no miner: dropped by the overhead job
    size = rng.integers(500, 60_000, n_bl)
    hexes = [_hex(rng, n_bl, 16, 80) for _ in range(5)]
    bts = MONTH_STARTS[0] + np.sort(rng.integers(0, MONTH_STARTS[-1] - MONTH_STARTS[0], n_bl))
    blines = [
        f"{i},0xh{i:x},0xp{i:x},0x0,{a},{b},{c},{d},{e},{m},1,2,{sz},0x,"
        f"8000000,7000000,{t},{i % 300},0"
        for i, (a, b, c, d, e, m, sz, t) in enumerate(zip(
            *hexes, bm.tolist(), size.tolist(), bts.tolist()))]
    bad = rng.choice(n_bl, 3 * 100, replace=False).tolist()
    for j, i in enumerate(bad):
        f = blines[i].split(",")
        kind = j % 3
        if kind == 0:
            f = f[:12]                    # wrong arity
        elif kind == 1:
            f[12] = "n/a"                 # size does not parse
        else:
            f[0] = "x1"                   # number does not parse
        blines[i] = ",".join(f)
    with open(f"{out}/blocks.csv", "w") as fh:
        fh.write("number,hash,parent_hash,nonce,sha3_uncles,logs_bloom,"
                 "transactions_root,state_root,receipts_root,miner,difficulty,"
                 "total_difficulty,size,extra_data,gas_limit,gas_used,"
                 "timestamp,transaction_count,base_fee_per_gas\n")
        fh.write("\n".join(blines) + "\n")

    # contracts: the 40 hottest addresses plus a random tail, a few
    # duplicated rows (a multiset, as in the reference) and bad rows
    hot = pool[:40]
    tail = [pool[i] for i in rng.choice(np.arange(40, len(pool)), 1500, replace=False)]
    contracts = hot + tail + hot[:5]
    clines = [f"{a},0xcode,sig,true,false,{i}" for i, a in enumerate(contracts)]
    clines += ["nocontract,0xcode,sig,true,false,1", "0xshort,row"]
    with open(f"{out}/contracts.csv", "w") as fh:
        fh.write("\n".join(clines) + "\n")
    # scams overlap the contracts and each other
    cats = ["Phishing", "Scamming", "Fake ICO", "Hacking"]
    scam_pool = pool[10:60] + tail[:50]
    scams = {}
    for k in range(60):
        addrs = [scam_pool[(k * 3 + j) % len(scam_pool)] for j in range(1 + k % 3)]
        scams[str(1000 + k)] = {"id": 1000 + k, "addresses": addrs,
                                "status": "Active" if k % 4 else "Offline",
                                "category": cats[k % len(cats)]}
    with open(f"{out}/scams.json", "w") as fh:
        json.dump({"success": True, "result": scams}, fh)
    with open(f"{out}/contractsTop10.csv", "w") as fh:
        fh.write(",Addresses,Value\n")
        for i, a in enumerate(hot[:10]):
            fh.write(f"{i},{a},{1000 - i}.0\n")


def split_of(text):
    """The content-hash split Sampling.splitAssign assigns."""
    b = int(hashlib.md5(text.encode()).hexdigest()[:4], 16) % 100
    return "train" if b < 90 else "val" if b < 95 else "test"


def corpus(seed, out):
    """Documents in 5 languages from 20 sources, with planted exact and
    near-duplicate groups and planted train/eval 3-gram overlaps.

    Writes documents.parquet and planted.json (the groups and the
    planted contaminations) and budget.txt (the mixing budget)."""
    rng = np.random.default_rng(seed)
    n = SIZES["corpus_pipeline"]["documents"]
    langs = ["en", "de", "fr", "es", "zh"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = {}
    for li, lang in enumerate(langs):
        lens = rng.integers(2, 6, 4000)
        words = {"".join(letters[rng.integers(0, 26, L)].tolist()) + lang[li % 2]
                 for L in lens.tolist()}
        vocab[lang] = sorted(words)
    lang_p = np.array([0.45, 0.2, 0.15, 0.12, 0.08])

    def doc(lang, ntok):
        v = vocab[lang]
        return " ".join(v[i] for i in rng.integers(0, len(v), ntok).tolist())

    texts, doc_lang = [], []
    for i in range(n):
        lang = langs[rng.choice(5, p=lang_p)]
        r = rng.random()
        if r < 0.05:
            t = doc(lang, int(rng.integers(5, 19)))          # too short
        elif r < 0.08:
            t = doc(lang, int(rng.integers(92, 120)))        # too long
        elif r < 0.11:
            w = vocab[lang][int(rng.integers(0, 50))]
            t = " ".join([w] * 10 + doc(lang, 30).split())   # repetitive
        else:
            t = doc(lang, int(rng.integers(20, 91)))
        texts.append(t)
        doc_lang.append(lang)
    groups = []
    ids = rng.permutation(n).tolist()
    at = 0
    # exact-duplicate groups: identical text
    for g in range(120):
        size = 2 + g % 3
        members = sorted(ids[at:at + size]); at += size
        for m in members[1:]:
            texts[m] = texts[members[0]]; doc_lang[m] = doc_lang[members[0]]
        groups.append({"kind": "exact", "members": members})
    # near-duplicate groups: a few tokens replaced
    for g in range(120):
        size = 2 + g % 3
        members = sorted(ids[at:at + size]); at += size
        texts[members[0]] = doc(doc_lang[members[0]], int(rng.integers(50, 91)))
        lead = texts[members[0]].split()
        for m in members[1:]:
            t = list(lead)
            for _ in range(1 + int(rng.integers(0, 2))):
                t[int(rng.integers(0, len(t)))] = vocab[doc_lang[members[0]]][int(rng.integers(0, 4000 // 2))]
            texts[m] = " ".join(t); doc_lang[m] = doc_lang[members[0]]
        groups.append({"kind": "near", "members": members})
    # planted contamination: a train document carrying an eval 3-gram
    test_ids = [i for i in ids[at:] if split_of(texts[i]) == "test"]
    planted = []
    for j, i in enumerate(ids[at:at + 400]):
        if len(planted) >= 80 or not test_ids:
            break
        src = texts[test_ids[j % len(test_ids)]].split()
        if i in test_ids or len(src) < 3:
            continue
        p = int(rng.integers(0, len(src) - 2))
        gram = src[p:p + 3]
        base = texts[i].split()[:80]
        q = int(rng.integers(0, len(base)))
        cand = base[:q] + gram + base[q:]
        while split_of(" ".join(cand)) != "train":
            cand[-1] = vocab[doc_lang[i]][int(rng.integers(0, 2000))]
        texts[i] = " ".join(cand)
        planted.append({"doc_id": i, "gram": " ".join(gram)})
    sources = [f"src{int(x)}" for x in rng.integers(0, 20, n)]
    os.makedirs(out, exist_ok=True)
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_lang, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(tbl, f"{out}/documents.parquet")
    with open(f"{out}/planted.json", "w") as fh:
        json.dump({"groups": groups, "contaminated": planted}, fh)


def gseg(seed, out):
    """A base table of even keys and, per round, a feed confined to one
    key band: updates and deletes of live keys, inserts of absent ones.

    The generator simulates the table so every feed is valid against
    the state the previous rounds leave; it writes base.parquet,
    feeds/<round>.parquet, reads.csv (each round's range-read band)."""
    cfg = SIZES["gseg_upsert"]
    rng = np.random.default_rng(seed)
    n, space = cfg["rows"], 2 * cfg["rows"]
    os.makedirs(f"{out}/feeds", exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))

    def pads(m):
        c = letters[rng.integers(0, len(letters), (m, 8))]
        return ["".join(r) * 4 for r in c.tolist()]

    k = np.arange(0, space, 2, dtype=np.int64)
    v = rng.integers(0, 10**9, n, dtype=np.int64)
    pq.write_table(pa.table({"k": k, "v": v, "pad": pa.array(pads(n))}),
                   f"{out}/base.parquet", row_group_size=100_000)
    live = np.zeros(space, dtype=bool)
    live[k] = True
    reads = []
    for r in range(cfg["rounds"]):
        lo = int(rng.integers(0, space - cfg["band"]))
        band = np.arange(lo, lo + cfg["band"], dtype=np.int64)
        keys = rng.choice(band, cfg["feed"], replace=False)
        present = live[keys]
        roll = rng.random(cfg["feed"])
        op = np.where(present, np.where(roll < 0.15, "D", "U"), "I")
        fv = rng.integers(0, 10**9, cfg["feed"], dtype=np.int64)
        pq.write_table(pa.table({"k": keys, "v": fv, "pad": pa.array(pads(cfg["feed"])),
                                 "op": pa.array(op.tolist())}),
                       f"{out}/feeds/{r}.parquet")
        live[keys[op == "D"]] = False
        live[keys[op == "I"]] = True
        rlo = int(rng.integers(0, space - cfg["read_band"]))
        reads.append(f"{rlo},{rlo + cfg['read_band'] - 1}")
    with open(f"{out}/reads.csv", "w") as fh:
        fh.write("\n".join(reads) + "\n")


GENERATORS = {"eth_jobs": eth, "corpus_pipeline": corpus, "gseg_upsert": gseg}
