"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical files.  Outputs are cached under
``.perfbench_cache/`` keyed by (workload, seed, size, ``GEN_VERSION``,
``synth.SYNTH_VERSION``); a ``manifest.json`` written last marks a
complete entry and records the input's size and mix.  Generation is
never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from perfbench.common import CACHE_DIR, REPO_ROOT

# bump on ANY change to what a generator writes
GEN_VERSION = 5

# the 31-word vocabulary of the sf0.1 ``documents`` table; texts are
# 10-100 words drawn from it, as there
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

N_PARQUET_FILES = 8
CORPUS_DIR = os.path.join(REPO_ROOT, "fixtures", "files_corpus")
# the corpus files that exercise a non-ok or slow route; each drop holds
# every one of them exactly once so the type mix is the same on every seed
SPECIAL_FILES = (
    "doc_55.pdf",       # AES-256 encrypted, decrypts in pure Python
    "broken_99.docx",   # corrupt zip -> error
    "locked_4.pdf",     # unsupported encryption -> encrypted
    "scanned_3.pdf",    # image-only -> needs_ocr
    "report_7.pdf",     # outside the pdf subset -> needs_prechunk
    "readme_1.txt",     # unsupported extension -> skipped
    "LICENSE",          # no extension -> skipped
)


def _salt(rng: random.Random) -> str:
    return f"s{rng.getrandbits(24):06x}"


def _text(rng: random.Random) -> str:
    """sf0.1-shaped text (10-100 vocabulary words) with two seeded salt
    words, so texts of the same shape are distinct documents."""
    words = rng.choices(VOCAB, k=rng.randint(10, 100))
    for _ in range(2):
        words.insert(rng.randrange(len(words) + 1), _salt(rng))
    return " ".join(words)


def engine_digest() -> str:
    """sha1 over the engine's Python sources: keys caches of results that
    depend on the engine's code."""
    h = hashlib.sha1()
    root = os.path.join(REPO_ROOT, "parserpdf_spark")
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dirpath, name), root).encode())
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def write_json_atomic(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
    os.replace(tmp, path)


def _entry(kind: str, seed: int, size: int) -> str:
    from parserpdf_spark.sources.synth import SYNTH_VERSION

    return os.path.join(
        CACHE_DIR, f"{kind}-s{seed}-n{size}-g{GEN_VERSION}-v{SYNTH_VERSION}"
    )


def _cached(kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """(entry dir, manifest) — builds into a temp dir and renames it into
    place, so an interrupted build never leaves a half entry."""
    path = _entry(kind, seed, size)
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = build(tmp, random.Random(f"{kind}:{seed}"), size)
        manifest.update(kind=kind, seed=seed, size=size, gen_version=GEN_VERSION)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest_path) as fh:
        return path, json.load(fh)


def _write_parquet(table, out_dir: str) -> int:
    """Write ``table`` as N_PARQUET_FILES files; returns the bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    per = -(-table.num_rows // N_PARQUET_FILES)
    total = 0
    for k in range(N_PARQUET_FILES):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * per, per), path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# stored_docs: a stored docs(doc_id, spans) table
# ---------------------------------------------------------------------------
def _build_stored_docs(out: str, rng: random.Random, n_docs: int) -> dict:
    import pyarrow as pa

    from parserpdf_spark.sources.synth import synth_doc

    ids, spans = [], []
    for i in range(n_docs):
        ids.append(str(i))
        # synth_doc picks the family from the id: i % 3 -> html with
        # nav/footer boilerplate, pdf_block layout, media + html
        spans.append(synth_doc(i, _text(rng)))
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    table = pa.table(
        {"doc_id": pa.array(ids, pa.string()),
         "spans": pa.array(spans, pa.list_(span_t))}
    )
    n_bytes = _write_parquet(table, os.path.join(out, "docs"))
    return {
        "docs": n_docs,
        "spans": sum(len(s) for s in spans),
        "bytes": n_bytes,
        "mix": {"html": len(range(0, n_docs, 3)),
                "pdf_block": len(range(1, n_docs, 3)),
                "mixed": len(range(2, n_docs, 3))},
    }


def stored_docs(seed: int, n_docs: int) -> tuple[str, dict]:
    """(docs table dir, manifest)."""
    path, manifest = _cached("stored_docs", seed, n_docs, _build_stored_docs)
    return os.path.join(path, "docs"), manifest


# ---------------------------------------------------------------------------
# file_drops: real files from the fixture corpus, unique stems
# ---------------------------------------------------------------------------
# suffixes that share a route
ROUTE_OF = {".htm": ".html", ".markdown": ".md"}


def _suffix(name: str) -> str:
    stem, dot, ext = name.rpartition(".")
    return f".{ext.lower()}" if dot else ""


def _build_file_drops(out: str, rng: random.Random, n_files: int) -> dict:
    by_type: dict[str, list[str]] = {}
    for name in sorted(os.listdir(CORPUS_DIR)):
        if name not in SPECIAL_FILES:
            by_type.setdefault(ROUTE_OF.get(_suffix(name), _suffix(name)), []).append(name)
    # each type's share of the drop is its share of the corpus (largest
    # remainder, at least one file each, so a small drop can hold a few
    # more files than asked) and the files of a type are taken
    # in name order, so every seed drops the same files; the seed decides
    # their arrival order, hence which micro-batch holds which file
    n_regular = max(n_files - len(SPECIAL_FILES), len(by_type))
    total = sum(len(v) for v in by_type.values())
    quota = {t: max(1, len(v) * n_regular // total) for t, v in by_type.items()}
    by_remainder = sorted(by_type, key=lambda t: -(len(by_type[t]) * n_regular % total))
    for t in by_remainder[: max(0, n_regular - sum(quota.values()))]:
        quota[t] += 1
    picks = list(SPECIAL_FILES)
    for t in sorted(by_type):
        picks += [by_type[t][k % len(by_type[t])] for k in range(quota[t])]
    rng.shuffle(picks)
    drop = os.path.join(out, "drop")
    os.makedirs(drop)
    files, mix, n_bytes = [], {}, 0
    for k, name in enumerate(picks):
        # sources/files derives doc_id from the stem: every copy gets its own
        stem, dot, ext = name.rpartition(".")
        new = f"{stem}-c{k:04d}.{ext}" if dot else f"{name}-c{k:04d}"
        dst = os.path.join(drop, new)
        shutil.copyfile(os.path.join(CORPUS_DIR, name), dst)
        # distinct, seed-independent mtimes fix the micro-batch order
        t_ns = (1_700_000_000 + k) * 1_000_000_000
        os.utime(dst, ns=(t_ns, t_ns))
        files.append({"name": new, "source": name})
        label = "pdf_aes256" if name == "doc_55.pdf" else _suffix(name) or "none"
        mix[label] = mix.get(label, 0) + 1
        n_bytes += os.path.getsize(dst)
    return {"files": files, "n_files": len(files), "bytes": n_bytes, "mix": mix}


def file_drops(seed: int, n_files: int) -> tuple[str, dict]:
    """(drop dir, manifest)."""
    path, manifest = _cached("file_drops", seed, n_files, _build_file_drops)
    return os.path.join(path, "drop"), manifest


# ---------------------------------------------------------------------------
# near_dups: texts with planted near-duplicate clusters
# ---------------------------------------------------------------------------
SHINGLE_N = 3
NEAR_DUP_THRESHOLD = 0.8


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """The dedup operator's shingle set: lowercase, split on single
    spaces, empties dropped, distinct word n-grams."""
    toks = [t for t in text.lower().split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def _cluster_sizes(n_planted: int, cap: int) -> list[int]:
    """Heavy-tailed (Zipf) cluster sizes: the k-th largest cluster has
    ``cap // k`` members, at least 2, until ``n_planted`` texts are
    placed.  The same on every seed, so every seed plants the same work."""
    sizes: list[int] = []
    while sum(sizes) < n_planted:
        sizes.append(max(2, cap // (len(sizes) + 1)))
    return sizes


def _build_near_dups(out: str, rng: random.Random, n_texts: int) -> dict:
    import pyarrow as pa

    n_planted = n_texts // 5
    sizes = _cluster_sizes(n_planted, cap=max(8, n_texts // 100))
    texts: list[str] = []
    clusters: list[list[int]] = []
    for size in sizes:
        # one substituted word per member: with >= 70 words, any two
        # members share all but at most 6 of >= 68 shingles (J >= 0.83)
        root = rng.choices(VOCAB, k=rng.randint(70, 100))
        members = []
        for _ in range(size):
            words = list(root)
            words[rng.randrange(len(words))] = _salt(rng)
            members.append(len(texts))
            texts.append(" ".join(words))
        clusters.append(members)
    while len(texts) < n_texts:
        texts.append(_text(rng))
    # spread cluster members over the id space
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    planted = []
    for members in clusters:
        ids = sorted(doc_id[m] for m in members)
        sh = {doc_id[m]: shingles(texts[m]) for m in members}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if jaccard(sh[a], sh[b]) >= NEAR_DUP_THRESHOLD:
                    planted.append([a, b])
    by_id = [None] * len(texts)
    for old, new in doc_id.items():
        by_id[new] = texts[old]
    table = pa.table(
        {"doc_id": pa.array(range(len(by_id)), pa.int64()),
         "text": pa.array(by_id, pa.string())}
    )
    n_bytes = _write_parquet(table, os.path.join(out, "texts"))
    with open(os.path.join(out, "planted_pairs.json"), "w") as fh:
        json.dump(planted, fh)
    return {
        "texts": len(by_id),
        "bytes": n_bytes,
        "clusters": len(sizes),
        "clustered_texts": sum(sizes),
        "largest_cluster": max(sizes),
        "planted_pairs": len(planted),
    }


def near_dups(seed: int, n_texts: int) -> tuple[str, dict, list[tuple[int, int]]]:
    """(texts table dir, manifest, planted pairs as (a, b) with a < b)."""
    path, manifest = _cached("near_dups", seed, n_texts, _build_near_dups)
    with open(os.path.join(path, "planted_pairs.json")) as fh:
        planted = [tuple(p) for p in json.load(fh)]
    return os.path.join(path, "texts"), manifest, planted
