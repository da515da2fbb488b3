"""Seeded input generator for the graft benchmark.

Everything the benchmark feeds the program, and everything it expects
back, comes from here. The same seed gives byte-identical files.

Outputs under one directory:

  kv/b<i>/*.dat        MUPR measurement files, one lot each, `\\0`-separated,
                       11 columns, with a planted share of malformed lines
  kv/b<i>/trigger.csv  trigger metadata (File_Name,Lot,Lato_Start_WW,Lots_seq_key)
  kv/b<i>/cells.txt    every (rowKey, Test_Name) the batch writes, sorted
  kv/requests.txt      the lookup request stream (gets and unit-prefix scans)
  corpus/part<k>.jsonl the near-dup corpus, one {"id","text"} per line
  manifest.properties  sizes and paths the JVM side reads

Expected outputs (checksums, planted pairs, survivors) are returned as a
Python dict by `generate`; they never go to the program.
"""

import bisect
import json
import os
import random
import zlib

DELIM = "\0"
KEY_BATCH = 1000  # the reference's bulkGet batch size

# Sizes. One load batch and the lookup store have the same shape.
SIZES = {
    "kv_batches": 2,          # distinct load batches, cycled by the load loop
    "kv_files": 4,            # MUPR files (lots) per batch
    "kv_units": 300,          # units per file
    "kv_tests": 24,           # tests per unit, drawn from TEST_POOL
    "kv_rows_per_cell": (1, 6),
    "kv_bad_share": 0.005,    # planted malformed lines
    "lookup_requests": 400,   # pre-generated, cycled if the loop needs more
    "scan_digits": 3,         # unit-key digits in a scan prefix
    "docs": 3000,
    "doc_words": (80, 140),
    "near_share": 0.10,       # share of docs that are near copies of a source
    "exact_share": 0.02,      # share of docs that are exact copies
    "corpus_files": 4,
    "vocab": 20000,
}
TEST_POOL = ["t%02d_%s" % (i, s) for i, s in enumerate(
    ["vmin_core", "vmax_core", "idd_static", "fmax_ring", "leak_gate",
     "scan_chain", "bist_sram", "pll_lock"] * 6)]
THRESHOLD = 0.8
# 4-core vectors: every string of 4 letters over a pair of states
AI_VECTORS, PF_VECTORS, MASK_VECTORS = (
    [a + b + c + d for a in s for b in s for c in s for d in s]
    for s in ("AI", "PF", "MU"))


def float_str(quarters):
    """Java Float.toString of quarters/4, for 0 <= quarters < 4e7.

    Quarter steps are exact in binary, so the string the generator writes
    parses to a float whose Java rendering is this same string."""
    if quarters % 4 == 0:
        return "%d.0" % (quarters // 4)
    return repr(quarters / 4)


def crc(s):
    return zlib.crc32(s.encode("utf-8"))


# ---------------------------------------------------------------- KV inputs

def _lot_names(rng, n):
    names = set()
    while len(names) < n:
        names.add("L" + "".join(rng.choice("ABCDEFGHJKMNPQRSTUVWXYZ")
                                for _ in range(4)))
    return sorted(names)


def _mupr_batch(rng, bdir, tag, files):
    """One load batch: `files` MUPR files plus their trigger CSV.

    Returns (cells, stats): cells maps (rowKey, Test_Name) to the list of
    packed value tuples the store must hold for that cell."""
    os.makedirs(bdir, exist_ok=True)
    lo, hi = SIZES["kv_rows_per_cell"]
    cells = {}
    lines_total = bad = in_bytes = 0
    trigger = ["File_Name,Lot,Lato_Start_WW,Lots_seq_key"]
    for lot in _lot_names(rng, files):
        ww = 202001 + rng.randrange(52)
        seq = 1 + rng.randrange(9)
        fname = "%s_%s_mds_parametric_result.dat" % (tag, lot)
        trigger.append("%s,%s,%d,%d" % (fname, lot, ww, seq))
        out = []
        units = rng.sample(range(10000, 100000), SIZES["kv_units"])
        for unit in units:
            row_key = DELIM.join([lot, str(ww), str(seq), str(unit)])
            for test in rng.sample(TEST_POOL, SIZES["kv_tests"]):
                vals = []
                for order in range(1, rng.randint(lo, hi) + 1):
                    f = ["SS%02d" % rng.randrange(16),
                         str(1 + rng.randrange(4)),
                         str(order),
                         float_str(4 * rng.randrange(64)),
                         str(1000 + rng.randrange(9000)),
                         float_str(rng.randrange(4000 * 4)),
                         rng.choice(AI_VECTORS), rng.choice(PF_VECTORS),
                         rng.choice(MASK_VECTORS)]
                    out.append(DELIM.join([str(unit)] + f + [test]))
                    vals.append(DELIM.join(f))
                    if rng.random() < SIZES["kv_bad_share"]:
                        out.append(_malformed(rng, unit, f, test))
                        bad += 1
                cells[(row_key, test)] = vals
        lines_total += len(out)
        data = "\n".join(out) + "\n"
        with open(os.path.join(bdir, fname), "w", encoding="utf-8",
                  newline="") as fh:
            fh.write(data)
        in_bytes += len(data.encode("utf-8"))
    trig = "\n".join(trigger) + "\n"
    with open(os.path.join(bdir, "trigger.csv"), "w", encoding="utf-8",
              newline="") as fh:
        fh.write(trig)
    in_bytes += len(trig)
    return cells, {"lines": lines_total, "bad_lines": bad, "bytes": in_bytes,
                   "files": files + 1}


def _malformed(rng, unit, f, test):
    """A line the reader must quarantine: a non-numeric integer field, or
    a line cut short."""
    if rng.random() < 0.5:
        return DELIM.join(["u%d" % unit] + f + [test])
    return DELIM.join([str(unit)] + f[:4])


def _cell_sums(cells):
    """Expected unpack output: row count and the order-independent sum of
    crc32(rowKey \\x01 columnName \\x01 packedValue) over all rows."""
    n = s = 0
    for (rk, test), vals in cells.items():
        for v in vals:
            n += 1
            s += crc(rk + "\x01" + test + "\x01" + v)
    return n, s


def _cell_table(cells):
    """Per-cell (rows, crc sum), in a fixed order, for lookup expectations."""
    out = []
    for key in sorted(cells):
        rk, test = key
        vals = cells[key]
        out.append((rk, test, len(vals),
                    sum(crc(rk + "\x01" + test + "\x01" + v) for v in vals)))
    return out


def _requests(rng, table, path):
    """Seeded interleaving of 1000-key gets and unit-prefix scans.

    A get names 1000 distinct cells by index into the sorted cell table; a
    scan names a rowKey prefix (lot, ww, seq and the first scan_digits
    digits of a unit key), written with '|' for the `\\0` delimiter."""
    digits = SIZES["scan_digits"]
    keys = sorted({rk for rk, _, _, _ in table})
    table_keys = [t[0] for t in table]  # sorted, so a prefix is one range
    exp = []
    with open(path, "w", encoding="utf-8", newline="") as fh:
        # each pair of slots holds one get and one scan in seeded order, so
        # any prefix of the stream is balanced between the two types
        kinds = []
        for _ in range(SIZES["lookup_requests"] // 2):
            kinds += ["G", "S"] if rng.random() < 0.5 else ["S", "G"]
        for kind in kinds:
            if kind == "G":
                idx = sorted(rng.sample(range(len(table)), KEY_BATCH))
                fh.write("G " + " ".join(map(str, idx)) + "\n")
                exp.append(("get", sum(table[j][2] for j in idx),
                            sum(table[j][3] for j in idx), KEY_BATCH))
            else:
                rk = rng.choice(keys)
                lot, ww, seq, unit = rk.split(DELIM)
                prefix = DELIM.join([lot, ww, seq, unit[:digits]])
                lo = bisect.bisect_left(table_keys, prefix)
                hi = bisect.bisect_left(table_keys, prefix + "\uffff")
                rows = table[lo:hi]
                fh.write("S " + prefix.replace(DELIM, "|") + "\n")
                exp.append(("scan", sum(t[2] for t in rows),
                            sum(t[3] for t in rows), len(rows)))
    return exp


# ------------------------------------------------------------ dedup corpus

def _shingles(text):
    """Word bigram set of normalized text. The generator only emits
    lowercase [a-z0-9] words joined by single spaces, so normalization is
    the identity here."""
    toks = text.split()
    if len(toks) < 2:
        return {"_".join(toks)}
    return {toks[i] + "_" + toks[i + 1] for i in range(len(toks) - 1)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def alpha_ratio(text):
    """TextOps.qualityStruct's alpha_ratio: ASCII letters over code points,
    as the same IEEE double division."""
    n = sum(1 for c in text if "a" <= c <= "z" or "A" <= c <= "Z")
    return n / max(len(text), 1)


def _word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                   for _ in range(rng.randint(3, 9)))


def _near_copy(rng, words, vocab):
    """Replace one to three words: each replacement changes at most two of
    the 79+ bigrams, so Jaccard stays above 0.85."""
    w = list(words)
    for _ in range(rng.randint(1, 3)):
        i = rng.randrange(len(w))
        w[i] = str(rng.randrange(10, 100000)) if rng.random() < 0.5 \
            else rng.choice(vocab)
    return w


def _corpus(rng, cdir):
    os.makedirs(cdir, exist_ok=True)
    vocab = sorted({_word(rng) for _ in range(SIZES["vocab"])})
    n = SIZES["docs"]
    n_near = int(n * SIZES["near_share"])
    n_exact = int(n * SIZES["exact_share"])
    n_src = n - n_near - n_exact
    lo, hi = SIZES["doc_words"]
    texts = [[rng.choice(vocab) for _ in range(rng.randint(lo, hi))]
             for _ in range(n_src)]
    source_of = [None] * n_src
    for _ in range(n_near):
        s = rng.randrange(n_src)
        texts.append(_near_copy(rng, texts[s], vocab))
        source_of.append(s)
    for _ in range(n_exact):
        s = rng.randrange(n_src)
        texts.append(list(texts[s]))
        source_of.append(s)
    # ids: a seeded permutation, so copies are not always the higher id
    ids = rng.sample(range(1, 10 * n), n)
    docs = [(ids[i], " ".join(t)) for i, t in enumerate(texts)]

    # ground truth: clusters are source + copies; planted pairs are
    # (source, copy) and must clear the threshold by a margin
    planted = []
    cluster = list(range(n))
    for i, s in enumerate(source_of):
        if s is None:
            continue
        j = jaccard(docs[s][1], docs[i][1])
        if j < THRESHOLD + 0.02:
            raise AssertionError("planted pair below margin: %.3f" % j)
        planted.append((min(docs[s][0], docs[i][0]), max(docs[s][0], docs[i][0])))
        cluster[i] = s
    best = {}
    for i, (did, text) in enumerate(docs):
        c = cluster[i]
        cand = (-alpha_ratio(text), did)
        if c not in best or cand < best[c]:
            best[c] = cand
    survivors = sorted(did for _, did in best.values())

    order = list(range(n))
    rng.shuffle(order)
    k = SIZES["corpus_files"]
    in_bytes = 0
    for f in range(k):
        with open(os.path.join(cdir, "part%d.jsonl" % f), "w",
                  encoding="utf-8", newline="") as fh:
            for i in order[f::k]:
                line = json.dumps({"id": docs[i][0], "text": docs[i][1]}) + "\n"
                fh.write(line)
                in_bytes += len(line)
    return {"docs": n, "near": n_near, "exact": n_exact,
            "planted": sorted(planted), "survivors": survivors,
            "texts": dict(docs), "bytes": in_bytes, "files": k}


def _kv_batch(rng, bdir, tag, files):
    """A load batch plus cells.txt, every key it writes in cell-table order:
    the verify key list, and the index space of lookup gets."""
    cells, st = _mupr_batch(rng, bdir, tag, files)
    rows, sums = _cell_sums(cells)
    st.update(rows=rows, cells=len(cells), checksum=sums, dir=bdir)
    with open(os.path.join(bdir, "cells.txt"), "w", encoding="utf-8",
              newline="") as fh:
        for rk, test in sorted(cells):
            fh.write(rk.replace(DELIM, "|") + "\t" + test + "\n")
    return cells, st


# --------------------------------------------------------------- entry point

def generate(out_dir, seed, workload):
    """Write the inputs `workload` needs under out_dir; return expectations."""
    rng = random.Random(seed)
    props = {"seed": seed}
    expect = {"seed": seed}
    if workload in ("kv_load_verify", "kv_lookup"):
        n_batches = SIZES["kv_batches"] if workload == "kv_load_verify" else 1
        batches = [_kv_batch(rng, os.path.join(out_dir, "kv", "b%d" % b),
                             "b%d" % b, SIZES["kv_files"])
                   for b in range(n_batches)]
        for b, (_, st) in enumerate(batches):
            props["kv.batch.%d" % b] = st["dir"]
        props["kv.batches"] = n_batches
        expect["batches"] = [st for _, st in batches]
        if workload == "kv_lookup":
            table = _cell_table(batches[0][0])
            req = os.path.join(out_dir, "kv", "requests.txt")
            expect["requests"] = _requests(rng, table, req)
            props["kv.requests"] = req
    if workload == "near_dup_dedup":
        cdir = os.path.join(out_dir, "corpus")
        c = _corpus(rng, cdir)
        props["corpus.dir"] = cdir
        props["corpus.files"] = c["files"]
        expect["corpus"] = c
    with open(os.path.join(out_dir, "manifest.properties"), "w",
              encoding="utf-8") as fh:
        for k in sorted(props):
            fh.write("%s=%s\n" % (k, props[k]))
    return expect
