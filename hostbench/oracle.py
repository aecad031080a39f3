"""Expected results, restated in plain Python from the generated files.

Nothing here imports the program: each function re-derives what the
program's public functions must return from the input files alone, with the
benchmark's own md5-prefix ``hash32``. The ``*_check`` functions compare an
output (read back from the program's sinks) with the expectation and return
a list of differences; an empty list passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter, defaultdict

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from spec import (
    CURATION_DEFAULT_RATE,
    CURATION_RATES,
    JACCARD_MIN_PCT,
    KEY_FALLBACK,
    PAGE_COLLAB_DICT,
    PAGE_LANG_DICT,
    PAGE_STATUS_DICT,
    PAGE_UNION_DICT,
    PATH_FALLBACK,
    PATH_PATTERNS,
    REPETITION_MAX_PCT,
    curation_cap,
    tag_dict,
)


def hash32(s: str) -> int:
    """Unsigned 32-bit hash: the first 8 hex digits of md5(s)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def diff_counts(name: str, got: dict, want: dict, limit: int = 5) -> list:
    bad = [
        f"{name}[{k!r}]: got {got.get(k)} want {want.get(k)}"
        for k in sorted(set(got) | set(want), key=repr)
        if got.get(k) != want.get(k)
    ]
    return bad[:limit] + ([f"{name}: {len(bad) - limit} more"] if len(bad) > limit else [])


def read_rows(path: str, columns=None) -> list:
    """Rows of a parquet table or hive-partitioned tree, as dicts."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pylist()


# ---------------------------------------------------------------------------
# pages_pipeline
# ---------------------------------------------------------------------------

_STATUS_RE = re.compile(r'<meta http-equiv="Status" content="([^"]*)"')


def pages_expected(inputs: str) -> dict:
    t = pq.read_table(
        os.path.join(inputs, "pages"), columns=["html", "text", "lang", "collaborator_ids"]
    ).to_pydict()
    status_keys = {k for k, _ in PAGE_STATUS_DICT}
    lang_keys = {k for k, _ in PAGE_LANG_DICT}
    collab_keys = {k for k, _ in PAGE_COLLAB_DICT}
    union_keys = [k for k, _ in PAGE_UNION_DICT]
    route, route_lang, per_key, lang_hits = Counter(), Counter(), Counter(), Counter()
    side = Counter()
    for html, text, lang, collab in zip(
        t["html"], t["text"], t["lang"], t["collaborator_ids"]
    ):
        m = _STATUS_RE.search(html[:1024].decode())
        status = m.group(1) if m and m.group(1) else None
        r = "matched" if status in status_keys else "fallback"
        key = status if r == "matched" else None
        route[r] += 1
        route_lang[(r, lang)] += 1
        per_key[(r, key)] += 1
        if r == "matched":
            lang_hits[lang] += 1
        side[("lang_route", "matched" if lang in lang_keys else "unmatched")] += 1
        if not collab:
            cr = "unmatched"
        else:
            cr = "matched" if any(c in collab_keys for c in collab) else "fallback"
        side[("collab_route", cr)] += 1
        ur = "matched" if any(k in text for k in union_keys) else "unmatched"
        side[("union_route", ur)] += 1
    n = len(t["text"])
    return {
        "obs": {
            "rows": n,
            "extract_mismatches": 0,
            "matched_rows": route["matched"],
            "fallback_rows": route["fallback"],
        },
        "route_counts": dict(route),
        "route_lang_counts": dict(route_lang),
        "per_key_histogram": dict(per_key),
        "per_lang_hits": dict(lang_hits),
        "side_routes": dict(side),
    }


def pages_check(out_dir: str, obs: dict, want: dict) -> list:
    bad = diff_counts("observe", obs, want["obs"])
    got = {r["route"]: r["cnt"] for r in read_rows(os.path.join(out_dir, "agg_route_counts"))}
    bad += diff_counts("agg_route_counts", got, want["route_counts"])
    got = {
        (r["route"], r["lang"]): r["cnt"]
        for r in read_rows(os.path.join(out_dir, "agg_route_lang_counts"))
    }
    bad += diff_counts("agg_route_lang_counts", got, want["route_lang_counts"])
    got = {
        (r["route"], r["matched_key"]): r["cnt"]
        for r in read_rows(os.path.join(out_dir, "agg_per_key_histogram"))
    }
    bad += diff_counts("agg_per_key_histogram", got, want["per_key_histogram"])
    got = {r["lang"]: r["hits"] for r in read_rows(os.path.join(out_dir, "agg_per_lang_hits"))}
    bad += diff_counts("agg_per_lang_hits", got, want["per_lang_hits"])
    side = Counter()
    for r in read_rows(
        os.path.join(out_dir, "routed"), ["lang_route", "collab_route", "union_route"]
    ):
        for col, val in r.items():
            side[(col, val)] += 1
    bad += diff_counts("routed", dict(side), want["side_routes"])
    return bad


def pages_route_rows(out_dir: str) -> dict:
    return {r["route"]: r["cnt"] for r in read_rows(os.path.join(out_dir, "agg_route_counts"))}


# ---------------------------------------------------------------------------
# enrich_lookup
# ---------------------------------------------------------------------------

_PATTERNS = [(re.compile(p), v) for p, v in PATH_PATTERNS]


def path_class(path: str) -> str:
    """Ordered first match, unanchored search: the first pattern that
    matches anywhere wins."""
    for pat, value in _PATTERNS:
        if pat.search(path):
            return value
    return PATH_FALLBACK


def load_csv_pairs(path: str) -> list:
    with open(path, encoding="utf-8") as fh:
        return [tuple(line.rstrip("\n").split(",", 1)) for line in fh if line.strip()]


class EventsOracle:
    """Per batch file, the event counts grouped by (key, path class) with
    their tag statistics; the histogram for any dictionary version is then
    a sum over distinct keys."""

    def __init__(self, inputs: str):
        tags = dict(tag_dict())
        self.groups = {}
        batch_dir = os.path.join(inputs, "batches")
        for name in sorted(os.listdir(batch_dir)):
            t = pq.read_table(os.path.join(batch_dir, name)).to_pydict()
            classes = {}
            acc = defaultdict(lambda: [0, 0, 0])
            for key, path, tag_list in zip(t["key"], t["path"], t["tags"]):
                pc = classes.get(path)
                if pc is None:
                    pc = classes[path] = path_class(path)
                a = acc[(key, pc)]
                a[0] += 1
                for tag in tag_list:
                    label = tags.get(tag)
                    if label is not None:
                        a[1] += 1
                        a[2] += int(label[2:])
            self.groups[name] = dict(acc)
        with open(os.path.join(inputs, "versions.json")) as fh:
            self.version_changes = json.load(fh)
        self.dict0 = load_csv_pairs(os.path.join(inputs, "dict_v0.csv"))

    def histogram(self, batch_file: str, dictionary: dict) -> dict:
        """{(route, key_value, path_class): (cnt, tag_hits, tag_code)}."""
        out = defaultdict(lambda: [0, 0, 0])
        for (key, pc), (cnt, hits, code) in self.groups[batch_file].items():
            value = dictionary.get(key)
            k = ("matched", value, pc) if value is not None else ("fallback", KEY_FALLBACK, pc)
            a = out[k]
            a[0] += cnt
            a[1] += hits
            a[2] += code
        return {k: tuple(v) for k, v in out.items()}


def enrich_check(batch_out: str, want: dict) -> list:
    got = {
        (r["route"], r["key_value"], r["path_class"]): (r["cnt"], r["tag_hits"], r["tag_code"])
        for r in read_rows(batch_out)
    }
    return diff_counts("histogram", got, want)


# ---------------------------------------------------------------------------
# near-duplicate probe
# ---------------------------------------------------------------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
MINHASH_P = 2147483647
MINHASH_COEF = [
    (1299721, 104729),
    (15485863, 32452843),
    (49979687, 67867967),
    (86028121, 15485867),
    (22801763, 49979693),
    (67867979, 86028157),
    (32452867, 22801777),
    (104729, 1299709),
]
BAND_SIZE = 2


def _shingles(text: str, n: int = 3) -> list:
    toks = [t for t in text.split(" ") if t]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def near_dup_expected(inputs: str) -> dict:
    """Exact-dedup groups, components over the canonical documents, the
    curation keep-set, and the planted clusters."""
    t = pq.read_table(os.path.join(inputs, "docs")).to_pydict()
    docs = {i: (text, lang, dom) for i, text, lang, dom in zip(t["id"], t["text"], t["lang"], t["domain"])}
    # exact dedup: min id per md5(lower(whitespace-normalised text))
    by_fp = defaultdict(list)
    for i, (text, _, _) in docs.items():
        by_fp[hashlib.md5(_WS.sub(" ", text).lower().encode()).hexdigest()].append(i)
    exact = {min(ids): len(ids) for ids in by_fp.values()}
    # MinHash over distinct-free shingles, 4 bands of 2, candidate pairs
    sh = {i: _shingles(docs[i][0]) for i in exact}
    buckets = defaultdict(list)
    for i, s in sh.items():
        if not s:
            continue
        hs = [hash32(x) for x in set(s)]
        sig = [min((a * h + b) % MINHASH_P for h in hs) for a, b in MINHASH_COEF]
        for band in range(len(sig) // BAND_SIZE):
            buckets[(band, *sig[band * BAND_SIZE : (band + 1) * BAND_SIZE])].append(i)
    cands = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))
    uf = _UnionFind()
    verified = 0
    sets = {}
    for a, b in cands:
        sa = sets.setdefault(a, set(sh[a]))
        sb = sets.setdefault(b, set(sh[b]))
        inter = len(sa & sb)
        if inter * 100 >= (len(sa) + len(sb) - inter) * JACCARD_MIN_PCT:
            verified += 1
            uf.union(a, b)
    components = {i: uf.find(i) for i in exact}
    # curation over the component representatives
    reps = [i for i, c in components.items() if i == c]
    kept = []
    for i in reps:
        toks = _shingles(docs[i][0])
        if not toks:
            continue
        if max(Counter(toks).values()) * 100 > len(toks) * REPETITION_MAX_PCT:
            continue
        rate = CURATION_RATES.get(docs[i][1], CURATION_DEFAULT_RATE)
        if hash32(str(i)) % 10_000 < int(round(rate * 10_000)):
            kept.append(i)
    per_domain = defaultdict(list)
    for i in sorted(kept):
        per_domain[docs[i][2]].append(i)
    cap = curation_cap(len(docs))
    keep = {i for ids in per_domain.values() for i in ids[:cap]}
    with open(os.path.join(inputs, "clusters.json")) as fh:
        planted = json.load(fh)
    groups = defaultdict(set)
    for fp_ids in by_fp.values():
        groups[components[min(fp_ids)]].update(fp_ids)
    return {
        "exact": exact,
        "components": components,
        "keep": keep,
        "candidate_pairs": len(cands),
        "verified_pairs": verified,
        "planted": planted,
        "found_groups": [sorted(g) for g in groups.values() if len(g) > 1],
    }


def _pairs(groups) -> set:
    out = set()
    for g in groups:
        g = sorted(g)
        out.update((g[x], g[y]) for x in range(len(g)) for y in range(x + 1, len(g)))
    return out


def dup_scores(found_groups, planted) -> tuple:
    """(recall, precision) of the duplicate pairs implied by the found
    groups against the pairs of the planted clusters."""
    found, truth = _pairs(found_groups), _pairs(planted)
    hit = len(found & truth)
    return hit / max(1, len(truth)), hit / max(1, len(found))


def near_dup_check(out_dir: str, want: dict) -> list:
    got = {r["id"]: r["dup_cnt"] for r in read_rows(os.path.join(out_dir, "exact"))}
    bad = diff_counts("exact_dedup", got, want["exact"])
    got = {r["id"]: r["component"] for r in read_rows(os.path.join(out_dir, "components"))}
    bad += diff_counts("components", got, want["components"])
    got = {r["id"]: 1 for r in read_rows(os.path.join(out_dir, "keep"), ["id"])}
    bad += diff_counts("keep", got, {i: 1 for i in want["keep"]})
    return bad
