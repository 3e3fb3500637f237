"""Seeded synthetic Hi-C genome for the benchmark, written as gz-TSV.

Model (Fit-Hi-C's null plus planted signal):
  * K chromosomes of n fragments each at a fixed resolution; fragment i
    sits at mid = res/2 + i*res.
  * every fragment has a bias b_i ~ exp(N(0, 0.2)), kept inside [0.6, 1.6]
    so the pipeline's [0.5, 2] clamp never applies.
  * intra contacts for every pair at 1..maxdist fragments apart:
    Poisson(lam * s^-alpha * b_i * b_j), s the distance in fragments.
  * planted loops: `loops` pairs per chromosome at 5..25 fragments apart
    whose rate is multiplied by `fold`.
  * a uniform inter background: `inter` reads between fragments of
    different chromosomes, aggregated to pair counts.

Files (the hic-tsv connector's headerless schemas):
  fragments.txt.gz   chr, extraField, mid, hitCount, mappable
  biases.txt.gz      chr, mid, bias
  contacts/part-*.txt.gz   chr1, mid1, chr2, mid2, contactCount
  stream/part-*.txt.gz     the same contacts, shuffled, in fixed-size files
  truth.json         counts the outputs must reproduce, plus the loops

run.py calls write_all(seed, "fithic", dir) once per seed, outside the
clock; build.py writes the "tiny" genome for its training run. Every file
is a pure function of (seed, size); gzip headers carry no timestamp, so
equal inputs give equal bytes.
"""
import gzip
import hashlib
import json
import os

import numpy as np

RES = 5000
# name -> (chromosomes, fragments per chromosome, maxdist, lam, alpha,
#          inter reads, loops per chromosome, fold)
SIZES = {
    "tiny": (2, 600, 40, 20.0, 1.0, 2000, 4, 40.0),
    "fithic": (4, 500, 80, 20.0, 1.0, 20000, 10, 40.0),
}
CONTACT_PARTS = 4
LOOP_MIN, LOOP_MAX = 5, 25
STREAM_ROWS = 5000


def chrom_name(c):
    return "chr%d" % (c + 1)


def generate(seed, size):
    k, n, maxdist, lam, alpha, inter, loops, fold = SIZES[size]
    rng = np.random.default_rng(seed)
    mids = RES // 2 + RES * np.arange(n, dtype=np.int64)
    bias = np.clip(np.exp(rng.normal(0.0, 0.2, size=(k, n))), 0.6, 1.6)

    intra = []
    truth_loops = []
    for c in range(k):
        i = np.repeat(np.arange(n), maxdist)
        s = np.tile(np.arange(1, maxdist + 1), n)
        keep = i + s < n
        i, s = i[keep], s[keep]
        j = i + s
        rate = lam * s.astype(np.float64) ** -alpha * bias[c, i] * bias[c, j]
        li = rng.choice(n - LOOP_MAX, size=loops, replace=False)
        ls = rng.integers(LOOP_MIN, LOOP_MAX + 1, size=loops)
        loop_idx = li * maxdist + (ls - 1)  # row of (li, li+ls) before keep
        pos = np.cumsum(keep) - 1
        rows = pos[loop_idx]
        rate[rows] *= fold
        cnt = rng.poisson(rate)
        nz = cnt > 0
        intra.append((np.full(nz.sum(), c), i[nz], j[nz], cnt[nz]))
        for a, b in zip(li, li + ls):
            truth_loops.append([chrom_name(c), int(mids[a]), int(mids[b])])

    # uniform inter background between distinct chromosomes
    c1 = rng.integers(0, k, size=inter)
    c2 = (c1 + rng.integers(1, k, size=inter)) % k
    f1 = rng.integers(0, n, size=inter)
    f2 = rng.integers(0, n, size=inter)
    swap = c1 > c2
    c1, c2 = np.where(swap, c2, c1), np.where(swap, c1, c2)
    f1, f2 = np.where(swap, f2, f1), np.where(swap, f1, f2)
    key = (c1 * k + c2) * n * n + f1 * n + f2
    ukey, icnt = np.unique(key, return_counts=True)
    f2u = ukey % n
    f1u = (ukey // n) % n
    c2u = (ukey // (n * n)) % k
    c1u = ukey // (n * n * k)

    ic = np.concatenate([t[0] for t in intra])
    ii = np.concatenate([t[1] for t in intra])
    ij = np.concatenate([t[2] for t in intra])
    icn = np.concatenate([t[3] for t in intra])
    # every contact row: (chr1, f1, chr2, f2, count), intra first
    rc1 = np.concatenate([ic, c1u])
    rf1 = np.concatenate([ii, f1u])
    rc2 = np.concatenate([ic, c2u])
    rf2 = np.concatenate([ij, f2u])
    rcnt = np.concatenate([icn, icnt])

    hit = np.zeros((k, n), dtype=np.int64)
    np.add.at(hit, (rc1, rf1), rcnt)
    np.add.at(hit, (rc2, rf2), rcnt)

    truth = {
        "seed": seed, "size": size, "chromosomes": k,
        "fragments": int(k * n),
        "mappable_fragments": int((hit > 0).sum()),
        "contacts": int(len(rcnt)),
        "intra_pairs": int(len(icn)), "inter_pairs": int(len(icnt)),
        "reads": int(rcnt.sum()), "loops": truth_loops,
    }
    return mids, bias, hit, (rc1, rf1, rc2, rf2, rcnt), truth


def cache_name(seed, size):
    """Directory name of a generated genome; it changes with the size's
    parameters, so a cached genome of other parameters is never reused."""
    h = hashlib.sha256(repr(SIZES[size]).encode()).hexdigest()[:8]
    return "hic_%s_%s_s%d" % (size, h, seed)


def contact_lines(mids, rows, order):
    rc1, rf1, rc2, rf2, rcnt = rows
    return ["chr%d\t%d\tchr%d\t%d\t%d\n" % (rc1[r] + 1, mids[rf1[r]],
            rc2[r] + 1, mids[rf2[r]], rcnt[r]) for r in order]


def write_gz(path, lines):
    with open(path, "wb") as raw:
        with gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=6,
                           mtime=0, filename="") as f:
            f.write("".join(lines).encode())


def write_all(seed, size, out):
    mids, bias, hit, rows, truth = generate(seed, size)
    k, n = hit.shape
    tmp = out + ".tmp"
    os.makedirs(os.path.join(tmp, "contacts"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "stream"), exist_ok=True)
    write_gz(os.path.join(tmp, "fragments.txt.gz"),
             ["chr%d\t0\t%d\t%d\t1\n" % (c + 1, mids[i], hit[c, i])
              for c in range(k) for i in range(n)])
    write_gz(os.path.join(tmp, "biases.txt.gz"),
             ["chr%d\t%d\t%.6f\n" % (c + 1, mids[i], bias[c, i])
              for c in range(k) for i in range(n)])
    total = len(rows[4])
    for p in range(CONTACT_PARTS):
        lo, hi = total * p // CONTACT_PARTS, total * (p + 1) // CONTACT_PARTS
        write_gz(os.path.join(tmp, "contacts", "part-%05d.txt.gz" % p),
                 contact_lines(mids, rows, range(lo, hi)))
    # the stream lands the same contacts in a seeded order, STREAM_ROWS
    # rows a file; a file's rows hold distinct pairs
    order = np.random.default_rng(seed + 1).permutation(total)
    files = 0
    for lo in range(0, total, STREAM_ROWS):
        write_gz(os.path.join(tmp, "stream", "part-%05d.txt.gz" % files),
                 contact_lines(mids, rows, order[lo:lo + STREAM_ROWS]))
        files += 1
    truth["stream_files"] = files
    truth["stream_rows_per_file"] = STREAM_ROWS
    truth["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(tmp) for f in fs
                         if f.endswith(".gz") and "stream" not in d)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.rename(tmp, out)
    return truth
