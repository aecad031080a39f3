"""Seeded input generators for the benchmark's workloads and its
near-duplicate probe.

The program never sees these functions, only the files they write, so a
program change cannot change the inputs. Each input set lives in its own
directory keyed by (workload, seed, size, GEN_VERSION). Generation writes
into a temporary directory, records a digest of every file in a marker, and
renames the directory into place last; a generation killed midway leaves no
marker and is redone by the next run, and a marker whose digest no longer
matches the files is treated the same way.

Run as a script (``python3 hostbench/gen.py <workload> <seed> <size> <dir>``) so
the benchmark's own process stays cold for the set-up measurement.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spec import BATCH_FILES

#: bumped whenever a generator's output changes, so cached inputs regenerate
GEN_VERSION = "g1"
MARKER = "DIGEST.json"

VOCAB = (
    "alpha amber anchor apple arrow aspen atlas autumn badge baker bamboo "
    "banner barrel basin beacon berry birch blaze bloom bolt border branch "
    "breeze brick bridge brook bucket cabin cable candle canyon carbon cargo "
    "cedar chalk chapel cherry cinder cliff clover cobalt comet copper coral "
    "cotton crane crater crystal dagger dawn delta desert dune eagle ember "
    "falcon feather fern fiber flint forest fossil fountain frost garnet "
    "geyser glacier granite gravel harbor hazel heron hollow honey horizon "
    "island ivory jasper juniper kernel lagoon lantern lava ledger lemon "
    "lilac linen lotus magnet maple marble meadow mercury mesa meteor mint "
    "mirror monsoon mosaic moss nectar nickel oasis obsidian ocean olive "
    "onyx orbit orchid otter oyster palm panther pebble pepper pine planet "
    "plaza plum polar poplar prairie prism quartz quill raven reef ridge "
    "river robin saddle saffron salmon sapphire satin scarlet shadow shore "
    "sierra silver slate spruce summit thistle thunder timber topaz tulip "
    "tundra valley velvet violet walnut willow winter zephyr"
).split()

# ---------------------------------------------------------------------------
# pages_pipeline
# ---------------------------------------------------------------------------

#: None = the page carries no status meta tag
_STATUSES = ["200", "301", "404", "500", "503", "junk", None]
_STATUS_P = [0.55, 0.10, 0.12, 0.08, 0.05, 0.05, 0.05]
_LANGS = ["en", "de", "fr", "es", "ja", "zh", "pt", "xx"]
_LANG_P = [0.50, 0.15, 0.10, 0.08, 0.06, 0.04, 0.04, 0.03]
_COLLAB_POOL = ["100", "101", "102", "103", "110", "111"]
_HOSTS = VOCAB[:64]
_TLDS = ["com", "org", "net", "io", "de"]
_EPOCH_US = 1_767_225_600 * 1_000_000  # 2026-01-01T00:00:00Z
PAGE_FILES = 8


def page_html(status, lang: str, text: str) -> str:
    meta = (
        f'<meta http-equiv="Status" content="{status}">' if status is not None else ""
    )
    return (
        f'<html><head>{meta}<meta name="lang" content="{lang}"></head>'
        f"<body><p>{text}</p></body></html>"
    )


def _words(rng: np.random.Generator, n: int, lo: int, hi: int):
    vocab = np.array(VOCAB, dtype=object)
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(VOCAB), size=(n, hi))
    return [list(vocab[idx[i, : lens[i]]]) for i in range(n)]


def gen_pages(out: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 1])
    status_i = rng.choice(len(_STATUSES), size=n, p=_STATUS_P)
    lang_i = rng.choice(len(_LANGS), size=n, p=_LANG_P)
    host_i = rng.integers(0, len(_HOSTS), size=n)
    tld_i = rng.integers(0, len(_TLDS), size=n)
    union_hit = rng.random(n) < 0.01
    n_collab = rng.integers(0, 7, size=n)
    collab_i = rng.integers(0, len(_COLLAB_POOL), size=(n, 6))
    ts = _EPOCH_US + np.sort(rng.integers(0, 86_400_000_000, size=n))
    words = _words(rng, n, 5, 50)
    rows = {k: [] for k in ("url", "html", "text", "lang", "collaborator_ids")}
    for i in range(n):
        text = " ".join(words[i]) + (" 200 & 500" if union_hit[i] else "")
        lang = _LANGS[lang_i[i]]
        rows["url"].append(f"https://{_HOSTS[host_i[i]]}.example.{_TLDS[tld_i[i]]}/p/{i}")
        rows["html"].append(page_html(_STATUSES[status_i[i]], lang, text).encode())
        rows["text"].append(text)
        rows["lang"].append(lang)
        rows["collaborator_ids"].append(
            [_COLLAB_POOL[c] for c in collab_i[i, : n_collab[i]]]
        )
    table = pa.table(
        {
            "url": pa.array(rows["url"], pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(rows["html"], pa.binary()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "collaborator_ids": pa.array(rows["collaborator_ids"], pa.list_(pa.string())),
        }
    )
    _write_split(table, os.path.join(out, "pages"), PAGE_FILES)
    gen_docs(out, seed, PROBE_DOCS)


# ---------------------------------------------------------------------------
# enrich_lookup
# ---------------------------------------------------------------------------

KEY_UNIVERSE = 30_000
KEY_GROUPS = 40
TAG_UNIVERSE = 2_400


def _paths(rng: np.random.Generator, kinds: np.ndarray):
    vocab = np.array(VOCAB, dtype=object)
    ws = vocab[rng.integers(0, len(VOCAB), size=len(kinds))]
    ns = rng.integers(1, 100_000, size=len(kinds))
    vs = rng.integers(1, 4, size=len(kinds))
    templates = [
        lambda w, n, v: f"/api/v{v}/users/{n}",
        lambda w, n, v: f"/api/v{v}/orders/{n}/items",
        lambda w, n, v: f"/api/v{v}/orders/{n}",
        lambda w, n, v: f"/api/v{v}/{w}",
        lambda w, n, v: f"/static/{w}/{n}.css",
        lambda w, n, v: f"/static/{w}/{n}.png",
        lambda w, n, v: f"/static/{w}.txt",
        lambda w, n, v: f"/blog/20{n % 30:02d}/{n % 12 + 1:02d}/{w}-{w}",
        lambda w, n, v: f"/blog/{w}",
        lambda w, n, v: f"/search?q={w}",
        lambda w, n, v: "/account/login" if n % 2 else "/account/logout",
        lambda w, n, v: f"/account/{w}",
        lambda w, n, v: f"/admin/{w}",
        lambda w, n, v: f"/{w}/index.php",
        lambda w, n, v: "/health",
        lambda w, n, v: f"/docs/{w}/{w}-{n}",
        lambda w, n, v: f"/misc/{w}/{n}",  # matches no pattern: the fallback
    ]
    return [templates[k](w, n, v) for k, w, n, v in zip(kinds.tolist(), ws, ns.tolist(), vs.tolist())]


def gen_events(out: str, seed: int, n: int) -> None:
    """``BATCH_FILES`` micro-batch files of ``n`` events each, plus the
    version-0 key dictionary (CSV) and the per-version change plan."""
    rng = np.random.default_rng([seed, 2])
    perm = rng.permutation(KEY_UNIVERSE)
    # key rank r is a dictionary hole (a miss) iff r % 10 == 7, so the miss
    # share of events is the same for every seed
    weights = 1.0 / np.arange(1, KEY_UNIVERSE + 1) ** 1.1
    weights /= weights.sum()
    groups = rng.integers(0, KEY_GROUPS, size=KEY_UNIVERSE)
    dict0 = [
        (f"k{perm[r]}", f"g{groups[r]}") for r in range(KEY_UNIVERSE) if r % 10 != 7
    ]
    os.makedirs(os.path.join(out, "batches"))
    _write_csv(os.path.join(out, "dict_v0.csv"), dict0)
    kind_p = np.array([10, 6, 8, 4, 5, 5, 3, 6, 3, 8, 4, 3, 2, 2, 3, 4, 5], float)
    kind_p /= kind_p.sum()
    tag_names = np.array([f"t{t}" for t in range(TAG_UNIVERSE)], dtype=object)
    key_names = np.array([f"k{p}" for p in perm], dtype=object)
    for b in range(BATCH_FILES):
        ranks = rng.choice(KEY_UNIVERSE, size=n, p=weights)
        kinds = rng.choice(len(kind_p), size=n, p=kind_p)
        n_tags = rng.integers(0, 6, size=n)
        tag_ids = rng.integers(0, TAG_UNIVERSE, size=(n, 5))
        table = pa.table(
            {
                "event_id": pa.array(np.arange(b * n, (b + 1) * n), pa.int64()),
                "key": pa.array(key_names[ranks], pa.string()),
                "path": pa.array(_paths(rng, kinds), pa.string()),
                "tags": pa.array(
                    [tag_names[tag_ids[i, : n_tags[i]]].tolist() for i in range(n)],
                    pa.list_(pa.string()),
                ),
            }
        )
        pq.write_table(table, os.path.join(out, "batches", f"b{b}.parquet"))
    # each later version moves 5% of the present keys to another group and
    # adds 10 hole keys of low rank mass (merge keeps every older entry)
    present = np.array([r for r in range(KEY_UNIVERSE) if r % 10 != 7])
    holes = np.array([r for r in range(1000, KEY_UNIVERSE) if r % 10 == 7])
    plan = []
    for _ in range(64):
        moved = rng.choice(present, size=len(present) // 20, replace=False)
        added = rng.choice(holes, size=10, replace=False)
        plan.append(
            [
                [f"k{perm[r]}", f"g{int(rng.integers(0, KEY_GROUPS))}"]
                for r in np.concatenate([moved, added])
            ]
        )
    with open(os.path.join(out, "versions.json"), "w") as fh:
        json.dump(plan, fh)


def _write_csv(path: str, pairs) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("".join(f"{k},{v}\n" for k, v in pairs))


# ---------------------------------------------------------------------------
# near-duplicate probe (carried by the pages_pipeline inputs)
# ---------------------------------------------------------------------------

DOC_LANGS = ["en", "de", "fr", "es", "ja"]
DOC_LANG_P = [0.5, 0.2, 0.15, 0.1, 0.05]
CURATION_DOMAINS = 50
DOC_FILES = 4
#: size of the near-duplicate corpus that the traced pages_pipeline run
#: carries for its dedup and curation probe
PROBE_DOCS = 4_000


def gen_docs(out: str, seed: int, n: int) -> None:
    """``n`` documents: 75% distinct bases, 3% repetitive spam, and planted
    clusters whose copies differ from their base by case or interior
    spacing (exact duplicates after normalisation) or by one edited word
    (near duplicates). ``clusters.json`` holds the planted truth."""
    rng = np.random.default_rng([seed, 3])
    dom_w = 1.0 / np.arange(1, CURATION_DOMAINS + 1)
    dom_w /= dom_w.sum()
    texts, cluster_of = [], []
    clusters = []
    while len(texts) < n:
        toks = _words(rng, 1, 20, 60)[0]
        if rng.random() < 0.03:
            toks = [toks[0]] * len(toks)  # one repeated word: fails the filter
        base = len(texts)
        texts.append(" ".join(toks))
        members = [base]
        if rng.random() < 0.25:
            for _ in range(int(rng.integers(1, 4))):
                copy = list(toks)
                kind = rng.random()
                j = int(rng.integers(1, len(copy) - 1))
                if kind < 0.3:
                    copy[j] = copy[j].upper()
                    text = " ".join(copy)
                elif kind < 0.5:
                    text = " ".join(copy[:j]) + "  \t" + " ".join(copy[j:])
                else:
                    copy[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    text = " ".join(copy)
                members.append(len(texts))
                texts.append(text)
        if len(members) > 1:
            clusters.append(members)
    texts = texts[:n]
    clusters = [[m for m in c if m < n] for c in clusters]
    clusters = [c for c in clusters if len(c) > 1]
    # shuffle ids so a cluster's base is not always its smallest id
    ids = rng.permutation(n).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table(
        {
            "id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(
                [DOC_LANGS[i] for i in rng.choice(len(DOC_LANGS), size=n, p=DOC_LANG_P)],
                pa.string(),
            ),
            "domain": pa.array(
                [f"d{i}" for i in rng.choice(CURATION_DOMAINS, size=n, p=dom_w)],
                pa.string(),
            ),
        }
    )
    _write_split(table, os.path.join(out, "docs"), DOC_FILES)
    with open(os.path.join(out, "clusters.json"), "w") as fh:
        json.dump([[int(ids[m]) for m in c] for c in clusters], fh)


# ---------------------------------------------------------------------------
# cache with digest marker
# ---------------------------------------------------------------------------

GENERATORS = {
    "pages_pipeline": gen_pages,
    "enrich_lookup": gen_events,
}


def _write_split(table: pa.Table, out_dir: str, parts: int) -> None:
    os.makedirs(out_dir)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(
            table.slice(p * step, step), os.path.join(out_dir, f"part-{p:02d}.parquet")
        )


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == MARKER:
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def cached_digest(path: str):
    """The digest of a complete input set at ``path``, or None when it is
    missing, unfinished or no longer matches its marker."""
    try:
        with open(os.path.join(path, MARKER)) as fh:
            recorded = json.load(fh)["digest"]
    except (OSError, ValueError, KeyError):
        return None
    return recorded if tree_digest(path) == recorded else None


def ensure_inputs(workload: str, seed: int, size: int, root: str) -> str:
    """Directory of the input set for (workload, seed, size), generated on
    first use. Returns the path."""
    path = os.path.join(root, f"{workload}-s{seed}-n{size}-{GEN_VERSION}")
    if cached_digest(path) is not None:
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, size)
    with open(os.path.join(tmp, MARKER), "w") as fh:
        json.dump({"digest": tree_digest(tmp)}, fh)
    os.rename(tmp, path)
    return path


if __name__ == "__main__":
    wl, sd, sz, root_dir = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    print(ensure_inputs(wl, sd, sz, root_dir))
