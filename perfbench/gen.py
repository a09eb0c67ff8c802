"""Seeded input generators for the three benchmark workloads.

Every input is built so that its correct output is known from the
construction alone; ``expected.json`` beside the inputs records it, and
``checks.py`` compares the program's output against it. Nothing here
imports the engine or Spark.

Layout of one generated input directory::

    <dir>/manifest.json     seed, generator digest, per-file sha256
    <dir>/expected.json     the answer, derived from the construction
    <dir>/...               the files the program receives

Inputs are reused only when the manifest names the same workload, seed,
size and generator digest and every file still hashes to its recorded
digest; anything else is regenerated from scratch.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes for the benchmark runs. Tests pass smaller ones.
SIZES = {
    "validate": {"sales": 80_000},
    "export": {"docs": 6_000},
    "semdedup": {"vectors": 6_000},
}

# --- validate -----------------------------------------------------------

SALES_DAYS = 12
# The config names absolute lake paths, so it is written from this
# template at each use and kept out of the input digest.
CONFIG_TEMPLATE = "validate.ini.template"
CONFIG = "validate.ini"
CHANNELS = ("web", "store", "phone", "partner")


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_partitioned(table: pa.Table, base: Path, col: str, values) -> None:
    """Hive layout ``base/col=value/part-00000.parquet``, one file per
    partition value, partition column dropped from the files."""
    keys = table.column(col).to_numpy(zero_copy_only=False)
    rest = table.drop_columns([col])
    for v in values:
        idx = np.flatnonzero(keys == v)
        if len(idx):
            _write(rest.take(pa.array(idx)), base / f"{col}={v}" / "part-00000.parquet")


def gen_validate(out: Path, seed: int, sizes: dict) -> dict:
    """A partitioned ``sales`` table (by ``ds``) in a source lake, and a
    target copied from it with seeded drift:

    * rows dropped from 2 partitions (UC#1 mismatched);
    * one partition absent from the target (UC#1 source_only);
    * one ``amount`` changed in each of 2 other partitions, counts kept
      (UC#2 inconsistent);
    * ``qty`` widened from int to bigint (schema drift). The fingerprint
      renders integers of either width as the same decimal string, so
      this drift alone leaves UC#2 consistent.
    """
    rng = np.random.default_rng([seed, 1])
    n = sizes["sales"]
    days = [f"2024-03-{d + 1:02d}" for d in range(SALES_DAYS)]
    sales = pa.table({
        "sale_id": np.arange(n, dtype=np.int64),
        "customer_id": rng.integers(0, 50_000, n, dtype=np.int64),
        "product_id": rng.integers(0, 5000, n, dtype=np.int32),
        "qty": rng.integers(1, 20, n, dtype=np.int32),
        "amount": np.round(rng.uniform(1, 500, n), 2),
        "channel": pa.array(np.array(CHANNELS)[rng.integers(0, len(CHANNELS), n)]),
        "ds": pa.array(np.array(days)[rng.integers(0, SALES_DAYS, n)]),
    })
    _write_partitioned(sales, out / "src" / "sales.parquet", "ds", days)

    picked = [days[i] for i in rng.choice(SALES_DAYS, 5, replace=False)]
    short_days, missing_day, mutated_days = sorted(picked[:2]), picked[2], sorted(picked[3:])
    ds = sales.column("ds").to_numpy(zero_copy_only=False)
    keep = ds != missing_day
    for d in short_days:
        idx = np.flatnonzero(ds == d)
        keep[rng.choice(idx, int(rng.integers(1, 50)), replace=False)] = False
    amount = sales.column("amount").to_numpy().copy()
    for d in mutated_days:
        amount[int(rng.choice(np.flatnonzero(ds == d)))] += 1000.0
    target = sales.set_column(4, "amount", pa.array(amount))
    target = target.set_column(3, "qty", target.column("qty").cast(pa.int64()))
    _write_partitioned(target.filter(pa.array(keep)), out / "tgt" / "sales.parquet", "ds", days)

    (out / CONFIG_TEMPLATE).write_text(
        "[Source]\nDBName:src\nPath:@DIR@/src\n"
        "[Target]\nDBName:tgt\nPath:@DIR@/tgt\n"
        "[Tables]\nsales\n"
        "[Partitions]\nsales:ds\n"
        "[SampleDataPercentage]\n100\n"
    )
    mismatched = [["sales", f"ds={d}", "mismatched"] for d in short_days]
    mismatched.append(["sales", f"ds={missing_day}", "source_only"])
    return {
        "rows": n,
        "exit_code": 1,
        "mismatched": sorted(mismatched),
        "schema_drift": [["sales", "qty", "int", "bigint", "type_mismatch"]],
        "inconsistent": sorted(["sales", f"ds={d}"] for d in mutated_days),
    }


# --- export -------------------------------------------------------------

BENCH_MOD = 50
SHARDS = 8
PACK_BUDGET = 512
# stopwords unique to one language of the engine's language-ID table
LANG_WORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "y", "que", "en", "los"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "et", "les", "des", "un"),
    "und": (),
}
LANGS = tuple(LANG_WORDS)
_ALL_STOPWORDS = {
    "the", "a", "of", "and", "to", "in", "is", "el", "la", "de", "y", "que",
    "en", "los", "der", "die", "das", "und", "ist", "nicht", "ein", "le",
    "et", "les", "des", "un",
}


def _pseudo_words(rng, n: int, salt: str) -> np.ndarray:
    """``n`` distinct lowercase letter-only words of 4-10 letters."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 6))
        w = "".join(cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))] for _ in range(k))
        w = w + salt
        if w not in _ALL_STOPWORDS:
            words.add(w)
    return np.array(sorted(words))


def _doc_tokens(rng, vocab: np.ndarray, n_tok: int, lang: str) -> list[str]:
    """Tokens with every word bigram distinct: content words appear once
    each, stopwords never sit next to each other."""
    stops = LANG_WORDS[lang]
    n_stop = n_tok // 4 if stops else 0
    content = vocab[rng.choice(len(vocab), n_tok - n_stop, replace=False)].tolist()
    slots = rng.choice(len(content) - 1, n_stop, replace=False) + 1 if n_stop else []
    toks = content
    for s in sorted(slots, reverse=True):
        toks.insert(int(s), stops[int(rng.integers(len(stops)))])
    return toks


def md5_shard(doc_id: int, shards: int) -> int:
    """The export's documented shard rule: first 15 hex digits of
    ``md5(str(doc_id))`` modulo the shard count."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % shards


def gen_export(out: Path, seed: int, sizes: dict) -> dict:
    """Documents whose curation fate is fixed by construction. Ids that
    are multiples of ``BENCH_MOD`` form the benchmark set (removed from
    the corpus); the corpus mixes

    * clean docs (kept) in en/es/de/fr and stopword-free 'und';
    * exact-duplicate groups of clean docs with whitespace variations
      (only the lowest id is kept);
    * contaminated docs that copy a 4-word run from a benchmark doc;
    * repetitive docs (one phrase repeated), low-alpha docs (digits and
      punctuation) and short docs (< 10 tokens): all dropped.
    """
    rng = np.random.default_rng([seed, 2])
    n = sizes["docs"]
    corpus_vocab = _pseudo_words(rng, 6000, "")
    bench_vocab = _pseudo_words(rng, 1500, "q")  # disjoint: ends in 'q'

    texts: list[str | None] = [None] * n
    expected: dict[int, tuple[str, int]] = {}
    bench_texts: list[list[str]] = []
    for i in range(0, n, BENCH_MOD):
        toks = _doc_tokens(rng, bench_vocab, int(rng.integers(50, 150)), LANGS[int(rng.integers(4))])
        texts[i] = " ".join(toks)
        bench_texts.append(toks)

    corpus_ids = [i for i in range(n) if i % BENCH_MOD]
    order = rng.permutation(len(corpus_ids))
    # exact counts per kind, so every seed gives the same mix
    shares = {"dup": 0.06, "contam": 0.03, "repeat": 0.04, "lowalpha": 0.04, "short": 0.03}
    kinds = np.array(["clean"] * len(corpus_ids), dtype=object)
    start = 0
    for kind, share in shares.items():
        k = round(share * len(corpus_ids))
        kinds[start : start + k] = kind
        start += k
    pending_dups: list[tuple[int, str, list[str]]] = []
    for pos in order:
        i, kind = corpus_ids[pos], kinds[pos]
        if kind in ("clean", "dup"):
            lang = LANGS[int(rng.integers(len(LANGS)))]
            toks = _doc_tokens(rng, corpus_vocab, int(rng.integers(50, 150)), lang)
            toks[0] = toks[0].capitalize()
            texts[i] = " ".join(toks)
            if kind == "dup":
                pending_dups.append((i, lang, toks))
            else:
                expected[i] = (lang, len(toks))
        elif kind == "contam":
            toks = _doc_tokens(rng, corpus_vocab, int(rng.integers(50, 150)), "en")
            src = bench_texts[int(rng.integers(len(bench_texts)))]
            j = int(rng.integers(len(src) - 4))
            k = int(rng.integers(len(toks)))
            texts[i] = " ".join(toks[:k] + src[j : j + 4] + toks[k:])
        elif kind == "repeat":
            phrase = corpus_vocab[rng.choice(len(corpus_vocab), 5, replace=False)].tolist()
            texts[i] = " ".join(phrase * int(rng.integers(6, 20)))
        elif kind == "lowalpha":
            m = int(rng.integers(20, 80))
            nums = rng.integers(10_000, 99_999_999, m).astype(str).tolist()
            texts[i] = " ".join(f"{x} --" if j % 3 == 0 else x for j, x in enumerate(nums))
        else:  # short
            toks = _doc_tokens(rng, corpus_vocab, int(rng.integers(3, 10)), "en")
            texts[i] = " ".join(toks)

    # duplicate groups: each pending doc gets 1, 2 or 3 copies, in turn,
    # at ids taken from the clean docs, whitespace varied
    pool = [i for i in corpus_ids if i in expected]
    rng.shuffle(pool)
    for j, (i, lang, toks) in enumerate(pending_dups):
        copies = [pool.pop() for _ in range(1 + j % 3)]
        group = [i] + copies
        for c in copies:
            del expected[c]
            sep = ("  ", "\t", " \n ")[int(rng.integers(3))]
            texts[c] = " " + sep.join(toks) + "  "
        expected[min(group)] = (lang, len(toks))

    _write(pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": pa.array(texts)}),
           out / "documents.parquet")
    kept = sorted(expected)
    langs: dict[str, int] = {}
    shard_of = {i: md5_shard(i, SHARDS) for i in kept}
    pack: dict[int, int] = {}
    shard_tokens = [0] * SHARDS
    for i in kept:  # doc_id order within each shard: the export's packing order
        lang, n_tok = expected[i]
        langs[lang] = langs.get(lang, 0) + 1
        s = shard_of[i]
        pack[i] = shard_tokens[s] // PACK_BUDGET
        shard_tokens[s] += n_tok
    return {
        "rows": n,
        "bench_mod": BENCH_MOD,
        "shards": SHARDS,
        "budget": PACK_BUDGET,
        "kept": {str(i): [expected[i][0], expected[i][1], shard_of[i], pack[i]] for i in kept},
        "docs_per_lang": dict(sorted(langs.items())),
        "shard_tokens": {str(s): t for s, t in enumerate(shard_tokens)},
    }


# --- semdedup -----------------------------------------------------------

DIM = 64
NLIST = 16
THRESHOLD = 0.9
_A = 0.35  # weight of the cell's centroid direction in every member
CHAIN_LEN = 5
_MARGIN = 0.02  # designed edges sit above, all other in-cell pairs below, by this much


def gen_semdedup(out: Path, seed: int, sizes: dict) -> dict:
    """Vectors in ``NLIST`` cells whose near-duplicate groups are known.

    In a rotated basis, centroid ``c`` is the unit vector ``e_c``; ids
    ``0..NLIST-1`` are those centroids, which the command takes as its
    coarse quantizer (the first ``--nlist`` vectors). Every other vector
    is ``A·e_c + r·w`` with ``w`` a unit vector orthogonal to all
    centroids, so its cell is ``c`` by a wide margin. Groups:

    * cliques: ``w`` plus small noise per member (all pairs near-dup);
    * chains: ``w`` rotated a fixed angle per step, so only neighbours
      are near-dups and the connected-components rounds must walk the
      chain.

    Within a group the survivor is the member least similar to its
    centroid, i.e. the one with the largest ``r``; every ``r`` differs.
    """
    rng = np.random.default_rng([seed, 3])
    n = sizes["vectors"]
    sub = DIM - NLIST

    def unit(x):
        return x / np.linalg.norm(x, axis=-1, keepdims=True)

    basis = np.zeros((n, DIM))
    basis[np.arange(NLIST), np.arange(NLIST)] = 1.0
    cell = np.empty(n, dtype=np.int64)
    cell[:NLIST] = np.arange(NLIST)
    groups: list[tuple[list[int], bool]] = []  # (ids, is_chain)
    # a fixed plan of group sizes (12% of vectors in cliques of 2-5, 8%
    # in chains of CHAIN_LEN), placed in seeded order and cells
    n_free = n - NLIST
    cliques = [2 + j % 4 for j in range(round(0.12 * n_free / 3.5))]
    units = [("clique", k) for k in cliques] + [("chain", CHAIN_LEN)] * round(0.08 * n_free / CHAIN_LEN)
    units += [("single", 1)] * (n_free - sum(k for _, k in units))
    i = NLIST
    for u in rng.permutation(len(units)):
        kind, size = units[u]
        c = int(rng.integers(NLIST))
        w0 = unit(rng.standard_normal(sub))
        if kind == "single":
            ws = w0[None, :]
        elif kind == "clique":
            ws = unit(w0 + 0.04 * unit(rng.standard_normal((size, sub))))
        else:
            g = rng.standard_normal(sub)
            q = unit(g - (g @ w0) * w0)
            ang = 0.35 * np.arange(size)
            ws = np.cos(ang)[:, None] * w0 + np.sin(ang)[:, None] * q
        r = 1.0 + 0.01 * rng.permutation(size)
        ids = list(range(i, i + size))
        basis[i : i + size, c] = _A
        basis[i : i + size, NLIST:] = r[:, None] * ws
        cell[i : i + size] = c
        if size > 1:
            groups.append((ids, kind == "chain"))
        i += size

    rot, _ = np.linalg.qr(rng.standard_normal((DIM, DIM)))
    vecs = (basis @ rot).astype(np.float32)

    # verify the construction on the float32 values the program reads
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    designed = set()
    for g, chain in groups:
        for a in range(len(g)):
            for b in range(a + 1, len(g)):
                if not chain or b == a + 1:
                    designed.add((g[a], g[b]))
    for c in range(NLIST):
        members = np.flatnonzero(cell == c)
        sims = v[members] @ v[members].T
        ii, jj = np.nonzero(np.triu(sims >= THRESHOLD - _MARGIN, 1))
        found = {(int(members[a]), int(members[b])) for a, b in zip(ii, jj)}
        want = {p for p in designed if cell[p[0]] == c}
        if found != want or any(sims[a, b] < THRESHOLD + _MARGIN for a, b in zip(ii, jj)):
            raise RuntimeError(f"semdedup construction broke its margins in cell {c}")

    norms_r = np.linalg.norm(basis[:, NLIST:], axis=1)
    dropped = set()
    for g, _ in groups:
        keep = max(g, key=lambda j: norms_r[j])
        dropped.update(j for j in g if j != keep)
    survivors = [j for j in range(n) if j not in dropped]

    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    _write(pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb}),
           out / "embeddings.parquet")
    return {
        "rows": n,
        "nlist": NLIST,
        "threshold": THRESHOLD,
        "groups": len(groups),
        "survivors": survivors,
    }


GENERATORS = {"validate": gen_validate, "export": gen_export, "semdedup": gen_semdedup}


def generator_digest() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()


def _file_digests(out: Path) -> dict[str, str]:
    skip = {"manifest.json", CONFIG}
    return {
        str(p.relative_to(out)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(out.rglob("*"))
        if p.is_file() and p.name not in skip
    }


def input_digest(out: Path) -> str:
    """One digest over every generated file, config and answer included."""
    h = hashlib.sha256()
    for name, d in _file_digests(out).items():
        h.update(f"{name}\0{d}\n".encode())
    return h.hexdigest()


def ensure_inputs(workload: str, seed: int, out: Path, sizes: dict | None = None) -> dict:
    """Generate (or verify and reuse) one workload's inputs in ``out``;
    returns the manifest."""
    sizes = sizes or SIZES[workload]
    want = {"workload": workload, "seed": seed, "sizes": sizes, "generator": generator_digest()}
    man_path = out / "manifest.json"
    if man_path.is_file():
        man = json.loads(man_path.read_text())
        if {k: man.get(k) for k in want} == want and man.get("files") == _file_digests(out):
            return man
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    expected = GENERATORS[workload](out, seed, sizes)
    (out / "expected.json").write_text(json.dumps(expected, sort_keys=True))
    man = dict(want, files=_file_digests(out), input_digest=input_digest(out))
    man_path.write_text(json.dumps(man, sort_keys=True, indent=1))
    return man


def write_config(out: Path) -> Path:
    """The validate config with this input directory's absolute paths."""
    cfg = out / CONFIG
    cfg.write_text((out / CONFIG_TEMPLATE).read_text().replace("@DIR@", str(out.resolve())))
    return cfg
