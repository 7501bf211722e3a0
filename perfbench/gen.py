"""Seeded input generators for the benchmark workloads.

Each generator is pure Python (``random.Random(seed)``), so the same
seed gives the same inputs on any machine, and nothing here imports
``fuzzspark``: a change to the engine's own synthetic corpus cannot
change what the benchmark feeds it.

``prepare(workload, seed, root)`` writes the workload's parquet inputs
plus ``meta.json`` (sizes, a content digest and the oracle's answers)
under ``root/<workload>-s<seed>/`` and reuses that directory on later
runs after re-checking the digest and that this generator's source is
unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import oracle

# workload sizes; README.md records why each was chosen
DENSE = dict(families=500, family_size=(2, 10), singletons=300, hot=260,
             chars=(200, 600), hard_share=0.25, renamed_share=0.2,
             threshold=0.85, warm_families=60)
# the name-pair mix the Jaro-Winkler kernel probe draws from
NAMES = dict(pool=20_000, exact=0.05, near=0.45, skewed=0.15)
STREAM = dict(reference=2000, files=4, per_file=12, chars=(60, 200),
              dup_share=0.5, threshold=0.85)

_TOKENS = (
    "fn def let var const mut pub priv static final void int uint float "
    "bool str char byte return yield if elif else for while loop match case "
    "break continue class struct enum trait impl interface import from use "
    "package module include extern self this super new alloc free drop copy "
    "clone map filter reduce fold zip iter next push pop peek insert remove "
    "get set put len size cap data buf ptr ref node edge tree graph list "
    "vec queue stack heap hash table key val item elem idx pos off lock mutex "
    "chan send recv spawn join await async err ok none some result option "
    "config parse load dump read write open close flush sync init reset"
).split()
_SYLL = ("ka ri to ne sa mo lu vi de ra po li an el or us in ta ge bo "
         "ch st tr pl qu er on is al em").split()
_LANGS = [("python", "py"), ("rust", "rs"), ("go", "go"), ("java", "java"),
          ("c", "c")]
_DIRS = ["src", "lib", "pkg", "internal", "core", "util", "net", "io"]
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _text(rng: random.Random, n_chars: int) -> str:
    words, size = [], 0
    while size < n_chars:
        w = rng.choice(_TOKENS)
        words.append(w)
        words.append("\n" if rng.random() < 0.12 else " ")
        size += len(w) + 1
    return "".join(words)[:n_chars]


def _mutate(rng: random.Random, s: str, n_edits: int) -> str:
    chars = list(s)
    for _ in range(n_edits):
        op = rng.randrange(4)
        pos = rng.randrange(len(chars))
        if op == 0:
            chars.insert(pos, rng.choice(_LETTERS))
        elif op == 1 and len(chars) > 1:
            del chars[pos]
        elif op == 2:
            chars[pos] = rng.choice(_LETTERS)
        elif pos + 1 < len(chars):
            chars[pos], chars[pos + 1] = chars[pos + 1], chars[pos]
    return "".join(chars)


def _copy(rng: random.Random, base: str) -> tuple[str, bool]:
    """A family member copied from ``base``: a heavy edit (a hard
    negative near the threshold) with probability ``hard_share``, else a
    light one.  Returns the copy and whether it is heavy."""
    if rng.random() < DENSE["hard_share"]:
        return _mutate(rng, base, rng.randint(len(base) // 12,
                                              len(base) // 5)), True
    return _mutate(rng, base, rng.randint(1, len(base) // 50)), False


def _ident(rng: random.Random, parts: int) -> str:
    return "".join(rng.choice(_SYLL) for _ in range(parts))


def _file_row(rng, seed, lang_ext, path, content):
    lang, _ext = lang_ext
    return dict(repo=f"org{rng.randrange(400)}/{_ident(rng, 2)}", path=path,
                commit=hashlib.sha1(f"{seed}|{path}|{content}".encode())
                .hexdigest()[:12], lang=lang, content=content)


def _assign_ids(rng: random.Random, rows: list) -> None:
    """Shuffle so families are not contiguous, then number the rows."""
    rng.shuffle(rows)
    for k, r in enumerate(rows):
        r["id"] = k


def gen_dense(seed: int) -> tuple[dict, dict]:
    """Source files in near-duplicate families (forks and vendored
    copies), a quarter of the copies heavily edited (hard negatives),
    plus singletons and one hot ``__init__`` path block large enough
    that ``defuse_skew`` windowing engages."""
    cfg = DENSE
    rng = random.Random(seed)
    rows, families = [], []
    # a fixed multiset of family sizes, so every seed has the same
    # number of documents
    lo, hi = cfg["family_size"]
    sizes = [lo + k % (hi - lo + 1) for k in range(cfg["families"])]
    rng.shuffle(sizes)
    for size in sizes:
        lang_ext = rng.choice(_LANGS)
        stem = _ident(rng, 3)
        base = _text(rng, rng.randint(*cfg["chars"]))
        members = []
        for k in range(size):
            name = stem
            if k == 0:
                content = base
            else:
                content, hard = _copy(rng, base)
                if not hard and rng.random() < cfg["renamed_share"]:
                    # a renamed light copy meets its family only through
                    # the content keys (MinHash, exact)
                    name = stem + rng.choice(["_old", "_copy", "_vendored"])
            path = f"{rng.choice(_DIRS)}/{name}.{lang_ext[1]}"
            members.append(_file_row(rng, seed, lang_ext, path, content))
        rows.extend(members)
        families.append(members)
    for _ in range(cfg["singletons"]):
        lang_ext = rng.choice(_LANGS)
        rows.append(_file_row(rng, seed, lang_ext,
                              f"{rng.choice(_DIRS)}/{_ident(rng, 3)}.{lang_ext[1]}",
                              _text(rng, rng.randint(*cfg["chars"]))))
    hot = [_file_row(rng, seed, ("python", "py"),
                     f"{_ident(rng, 2)}/__init__.py",
                     _text(rng, rng.randint(*cfg["chars"])))
           for _ in range(cfg["hot"])]
    rows.extend(hot)
    _assign_ids(rng, rows)
    # the cold warm-up iteration's smaller corpus: whole families, so the
    # oracle clusters restricted to it stay exact, and the hot block
    warm = [r for m in families[:cfg["warm_families"]] for r in m] + hot
    # oracle: every within-family pair scored; families are independent
    # random texts, so no cross-family pair reaches the threshold
    thr = cfg["threshold"]
    true_pairs = []
    for members in families:
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if oracle.ratio(a["content"], b["content"]) >= thr:
                    true_pairs.append(sorted((a["id"], b["id"])))
    labels = oracle.clusters([r["id"] for r in rows], true_pairs)
    tables = {name: _files_table(sorted(rs, key=lambda r: r["id"]))
              for name, rs in [("corpus.parquet", rows),
                               ("warm.parquet", warm)]}
    meta = dict(docs=len(rows), families=len(families), warm_docs=len(warm),
                content_bytes=sum(len(r["content"].encode()) for r in rows),
                true_pairs=true_pairs,
                oracle_clusters=sorted(labels.items()))
    return tables, meta


def _name_pool(rng: random.Random, size: int) -> list:
    pool = []
    for _ in range(size):
        style = rng.randrange(3)
        if style == 0:
            s = "_".join(_ident(rng, rng.randint(1, 3))
                         for _ in range(rng.randint(2, 4)))
        elif style == 1:
            s = "".join(_ident(rng, rng.randint(1, 3)).capitalize()
                        for _ in range(rng.randint(2, 4)))
        else:
            s = (_ident(rng, rng.randint(1, 3)).capitalize() + " "
                 + _ident(rng, rng.randint(2, 4)).capitalize())
        while len(s) < 8:
            s += rng.choice(_LETTERS)
        pool.append(s[:40])
    return pool


def name_pairs(rng: random.Random, n: int) -> tuple[list, list]:
    """``n`` identifier / person-name pairs, 8-40 chars: exact
    duplicates, typo variants, unrelated pairs and length-skewed pairs
    that the Jaro-Winkler length prefilter prunes."""
    cfg = NAMES
    pool = _name_pool(rng, cfg["pool"])
    shorts = [s for s in pool if len(s) <= 10]
    longs = []
    while len(longs) < 2000:
        s = "_".join(rng.choice(pool) for _ in range(3))[:40]
        if len(s) >= 34:
            longs.append(s)
    a_col, b_col = [], []
    c_exact = cfg["exact"]
    c_near = c_exact + cfg["near"]
    c_skew = c_near + cfg["skewed"]
    for _ in range(n):
        u = rng.random()
        a = rng.choice(pool)
        if u < c_exact:
            b = a
        elif u < c_near:
            b = _mutate(rng, a, rng.randint(1, 3))[:40]
        elif u < c_skew:
            a, b = rng.choice(shorts), rng.choice(longs)
        else:
            b = rng.choice(pool)
        a_col.append(a)
        b_col.append(b)
    return a_col, b_col


def doc_pairs(rng: random.Random, n: int) -> tuple[list, list]:
    """``n`` (original, copy) source-file pairs drawn as linkage_dense
    draws family members: mostly light edits, a quarter heavy."""
    a_col, b_col = [], []
    for _ in range(n):
        base = _text(rng, rng.randint(*DENSE["chars"]))
        copy, _hard = _copy(rng, base)
        a_col.append(base)
        b_col.append(copy)
    return a_col, b_col


def gen_stream(seed: int) -> tuple[dict, dict]:
    """A reference corpus and small arrival files; half the arrivals are
    lightly edited copies of reference documents, half are new."""
    cfg = STREAM
    rng = random.Random(seed)
    ref = []
    for _ in range(cfg["reference"]):
        lang_ext = rng.choice(_LANGS)
        ref.append(_file_row(
            rng, seed, lang_ext,
            f"{rng.choice(_DIRS)}/{_ident(rng, 3)}.{lang_ext[1]}",
            _text(rng, rng.randint(*cfg["chars"]))))
    _assign_ids(rng, ref)
    thr = cfg["threshold"]
    files, expected = {}, []
    next_id = len(ref)
    n_dup = round(cfg["per_file"] * cfg["dup_share"])
    for f in range(cfg["files"]):
        batch = []
        # a fixed number of copies per file, in shuffled positions
        kinds = [True] * n_dup + [False] * (cfg["per_file"] - n_dup)
        rng.shuffle(kinds)
        for is_copy in kinds:
            if is_copy:
                src = rng.choice(ref)
                content = _mutate(rng, src["content"],
                                  rng.randint(1, len(src["content"]) // 40 + 1))
                lang_ext = next(le for le in _LANGS if le[0] == src["lang"])
                row = _file_row(rng, seed, lang_ext, src["path"], content)
                if oracle.levenshtein(content, src["content"]) >= thr:
                    expected.append((next_id, src["id"]))
            else:
                lang_ext = rng.choice(_LANGS)
                row = _file_row(
                    rng, seed, lang_ext,
                    f"{rng.choice(_DIRS)}/{_ident(rng, 3)}.{lang_ext[1]}",
                    _text(rng, rng.randint(*cfg["chars"])))
            row["id"] = next_id
            next_id += 1
            batch.append(row)
        files[f"arrivals/part-{f:03d}.parquet"] = _files_table(batch)
    files["reference.parquet"] = _files_table(sorted(ref,
                                                     key=lambda r: r["id"]))
    n_arrivals = next_id - len(ref)
    meta = dict(reference=len(ref), arrivals=n_arrivals,
                arrival_files=cfg["files"],
                content_bytes=sum(len(r["content"].encode()) for r in ref),
                expected_edges=sorted(expected))
    return files, meta


def _files_table(rows: list) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=pa.schema(
        [("id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
         ("commit", pa.string()), ("lang", pa.string()),
         ("content", pa.string())]))


GENERATORS = {"linkage_dense": gen_dense, "stream_match": gen_stream}


def _digest(tables: dict) -> str:
    """Content digest of the generated tables (independent of the parquet
    writer's bytes)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def source_digest(*paths: str) -> str:
    """Digest of source files and trees (names and bytes; compiled
    caches skipped)."""
    h = hashlib.sha256()
    for top in paths:
        walk = (os.walk(top) if os.path.isdir(top)
                else [(os.path.dirname(top), [], [os.path.basename(top)])])
        for d, dirs, files in sorted(walk):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".pyc"):
                    continue
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, top).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _generator_digest() -> str:
    """Digest of the code that makes the inputs and the oracle answers."""
    here = os.path.dirname(os.path.abspath(__file__))
    return source_digest(os.path.join(here, "gen.py"),
                         os.path.join(here, "oracle.py"))


def _read_tables(d: str, names) -> dict:
    return {n: pq.read_table(os.path.join(d, n)) for n in names}


def prepare(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Return (input dir, meta) for (workload, seed), generating the
    inputs unless a cached copy with a matching digest exists."""
    d = os.path.join(root, f"{workload}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("generator") == _generator_digest() and \
                _digest(_read_tables(d, meta["files"])) == meta["digest"]:
            return d, meta
        shutil.rmtree(d)
    tables, meta = GENERATORS[workload](seed)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, table in tables.items():
        path = os.path.join(tmp, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
    # digest the bytes as read back, the form a cache reuse re-checks
    meta.update(files=sorted(tables), seed=seed, workload=workload,
                generator=_generator_digest(),
                digest=_digest(_read_tables(tmp, tables)))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, d)
    return d, meta
