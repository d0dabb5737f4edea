"""Seeded input generators for the benchmark workloads.

Each generator writes parquet inputs plus ``manifest.json`` into a work
directory. The manifest records what was planted (duplicate tags, unmatched
tags, blanks, rule failures, exact and near duplicates, the previous release
the new one is upserted over) and the expected outcomes the output checks compare against. Expected
outcomes are derived here with numpy/pandas/pure Python, never with Spark.

Row counts are fixed; the seed only moves which rows carry which plant, so
the work per iteration is the same for every seed.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_TABLE = 4

DUP_FLAG = "Duplicate TRRR_TAG"
NF_FLAG = "TRRR_TAG not found in Water POD Table"

# quality_rules defaults (functions/text.py) that the corpus is built against
MIN_WORDS = 50
STOPSET = ("the", "be", "to", "of", "and", "that", "have", "with")
JACCARD_THRESHOLD = 0.8
MIX_BUDGET = 600
LANGS = ("de", "en", "es", "fr", "it")
LANG_WEIGHTS = (0.22, 0.38, 0.15, 0.15, 0.10)


def write_parquet(table: pa.Table, path: str, files: int = FILES_PER_TABLE) -> int:
    """Write ``table`` as a directory of ``files`` parquet files; returns bytes."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    total = 0
    for i in range(files):
        part = table.slice(i * step, step)
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, f, compression="snappy")
        total += os.path.getsize(f)
    return total


def _codes(prefix: np.ndarray, num: np.ndarray) -> np.ndarray:
    """Tag strings like ``RV01001234`` from a prefix array and a number array."""
    return np.char.add(prefix.astype("U2"), np.char.zfill(num.astype("U8"), 8)).astype(object)


def _wkb(rng: np.random.Generator, n: int, vertices: int) -> pa.Array:
    """Opaque WKB blobs: points (``vertices == 1``) or linestrings."""
    if vertices == 1:
        head = np.frombuffer(b"\x01\x01\x00\x00\x00", dtype=np.uint8)
    else:
        head = np.frombuffer(
            b"\x01\x02\x00\x00\x00" + vertices.to_bytes(4, "little"), dtype=np.uint8
        )
    coords = rng.uniform(-1.4e6, 1.9e6, size=(n, 2 * vertices)).astype("<f8")
    body = np.concatenate(
        [np.broadcast_to(head, (n, head.size)), coords.view(np.uint8).reshape(n, -1)],
        axis=1,
    )
    width = body.shape[1]
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(body.tobytes())]
    )


def _pick(rng: np.random.Generator, values: list, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


# --------------------------------------------------------------------------
# wins_staging
# --------------------------------------------------------------------------

WINS_SIZES = {
    "reserves_and_restrictions": 100_000,
    "non_trim_hydrography": 50_000,
    "water_licensed_works_points": 50_000,
    "water_licensed_works_lines": 30_000,
    "flooded_area_lines": 30_000,
    "pod_extra": 6_000,  # POD codes no feature references
}


def gen_wins(out: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n_rrr = WINS_SIZES["reserves_and_restrictions"]
    # --- reserves tags: unique matched + planted anomalies ----------------
    n_dup_groups = 3_300
    group_sizes = rng.integers(2, 5, size=n_dup_groups)  # 2..4 rows each
    n_dup_unmatched_groups = 130  # duplicated AND missing from POD
    n_unmatched = 2_000
    n_null = 500
    n_blank = 500
    n_unique = n_rrr - int(group_sizes.sum()) - n_unmatched - n_null - n_blank
    n_codes = n_unique + n_dup_groups + n_unmatched
    prefixes = _pick(rng, ["RV", "RS", "PD", "WL"], n_codes, p=[0.4, 0.3, 0.2, 0.1])
    nums = rng.permutation(9_000_000)[:n_codes] + 1_000_000
    codes = _codes(prefixes, nums)
    uniq_codes = codes[:n_unique]
    group_codes = codes[n_unique:n_unique + n_dup_groups]
    unmatched_codes = codes[n_unique + n_dup_groups:]
    tags = np.concatenate(
        [
            uniq_codes,
            np.repeat(group_codes, group_sizes),
            unmatched_codes,
            np.full(n_null, None, dtype=object),
            np.full(n_blank, "", dtype=object),
        ]
    )
    tags = tags[rng.permutation(n_rrr)]
    # POD = every matched tag + unreferenced extras (dimension of the codes)
    pod_codes = np.concatenate(
        [
            uniq_codes,
            group_codes[n_dup_unmatched_groups:],
            _codes(
                _pick(rng, ["RV", "RS", "PD"], WINS_SIZES["pod_extra"]),
                np.arange(WINS_SIZES["pod_extra"]) + 10_500_000,
            ),
        ]
    )
    pod_codes = pod_codes[rng.permutation(pod_codes.size)]
    n_pod = pod_codes.size
    pod = pa.table(
        {
            "PNTS_CODE": pa.array(pod_codes, pa.string()),
            "PNTS_DESCR": pa.array(
                _pick(rng, ["Point of diversion", "Spring", "Well", "Dugout", "Intake"], n_pod),
                pa.string(),
            ),
            "SRCE_GAZETTED": pa.array(
                np.char.add("Creek ", rng.integers(0, 5000, n_pod).astype("U5")).astype(object),
                pa.string(),
            ),
        }
    )
    feature_codes = ["FA12345000", "FB23456000", "EA83030000", None]

    def ids(n):
        return pa.array(np.arange(1, n + 1, dtype=np.int64))

    tables = {
        "reserves_and_restrictions": pa.table(
            {
                "OBJECTID": ids(n_rrr),
                "TRRR_TAG": pa.array(tags, pa.string()),
                "FEATURE_CODE": pa.array(_pick(rng, feature_codes, n_rrr), pa.string()),
                "DESCRIPTION": pa.nulls(n_rrr, pa.string()),
                "geometry": _wkb(rng, n_rrr, 1),
            }
        )
    }
    # hydrography / works: tags drawn from POD with planted blanks and NULLs
    planted = {}
    for name, tag_col, vertices in (
        ("non_trim_hydrography", "TNTH_TAG", 4),
        ("water_licensed_works_points", "TWRK_TAG", 1),
        ("water_licensed_works_lines", "TWRK_TAG", 3),
    ):
        n = WINS_SIZES[name]
        t = pod_codes[rng.integers(0, n_pod, n)].copy()
        kind = rng.choice(3, size=n, p=[0.92, 0.05, 0.03])  # code / blank / NULL
        t[kind == 1] = ""
        t[kind == 2] = None
        fc = _pick(rng, ["GA24850000", "FA12345000", ""], n, p=[0.6, 0.35, 0.05])
        cols = {
            "OBJECTID": ids(n),
            tag_col: pa.array(t, pa.string()),
            "FEATURE_CODE": pa.array(fc, pa.string()),
        }
        if name == "non_trim_hydrography":
            cols["STREAM_NAME"] = pa.nulls(n, pa.string())
        cols["geometry"] = _wkb(rng, n, vertices)
        tables[name] = pa.table(cols)
        planted[name] = {
            "blank_tags": int((kind == 1).sum()),
            "null_tags": int((kind == 2).sum()),
            "blank_feature_codes": int((fc == "").sum()),
        }
    n_fal = WINS_SIZES["flooded_area_lines"]
    tables["flooded_area_lines"] = pa.table(
        {
            "OBJECTID": ids(n_fal),
            "FEATURE_CODE": pa.array(_pick(rng, feature_codes, n_fal), pa.string()),
            "geometry": _wkb(rng, n_fal, 5),
        }
    )

    # --- expected QA outcome: the reference's rules folded in pandas ------
    s = pd.Series(tags)
    freq = s.map(s.value_counts(dropna=True))
    is_dup = s.notna() & (freq > 1)
    matched = s.isin(set(pod_codes))
    is_nf = ~is_dup & ~matched
    kept = ~is_dup & ~is_nf
    kept_tags = s[kept]
    expected = {
        "reserves_and_restrictions": {
            "rows": n_rrr,
            "kept": int(kept.sum()),
            "rejects": {DUP_FLAG: int(is_dup.sum()), NF_FLAG: int(is_nf.sum())},
            "kept_rv": int(kept_tags.str.startswith("RV").sum()),
            "kept_rs": int(kept_tags.str.startswith("RS").sum()),
        }
    }
    for name in ("non_trim_hydrography", "water_licensed_works_points",
                 "water_licensed_works_lines"):
        p = planted[name]
        expected[name] = {"rows": WINS_SIZES[name], "kept": WINS_SIZES[name],
                          "null_tags": p["blank_tags"] + p["null_tags"]}
        if name != "non_trim_hydrography":
            expected[name]["null_feature_codes"] = p["blank_feature_codes"]
    expected["flooded_area_lines"] = {"rows": n_fal, "kept": n_fal}

    input_bytes = 0
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out, "in", name)
        input_bytes += write_parquet(table, paths[name])
    pod_path = os.path.join(out, "in", "water_pod_table")
    input_bytes += write_parquet(pod, pod_path, files=1)
    planted["reserves_and_restrictions"] = {
        "dup_groups": n_dup_groups,
        "dup_rows": int(group_sizes.sum()),
        "dup_groups_unmatched": n_dup_unmatched_groups,
        "unmatched_tags": n_unmatched,
        "null_tags": n_null,
        "blank_tags": n_blank,
    }
    return {
        "workload": "wins_staging",
        "seed": seed,
        "tables": paths,
        "pod": pod_path,
        "pod_rows": int(n_pod),
        "input_bytes": input_bytes,
        "planted": planted,
        "expected": expected,
    }


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------

N_GOOD = 2_100
FAIL_KINDS = {"short": 80, "symbols": 80, "numeric": 80, "repetitive": 80, "no_stopwords": 80}
N_EXACT_COPIES = 200
NEAR_CLUSTERS = {2: 60, 3: 30, 6: 20}  # cluster size -> clusters (chains)


def rule_values(text: str) -> dict:
    """Python twin of ``quality_rules``' measured values (spec, not Spark)."""
    tk = text.split(" ")
    n = len(tk)
    tri = [" ".join(tk[i:i + 3]) for i in range(n - 2)]
    return {
        "n_words": n,
        "mean_word_len": sum(len(w) for w in tk) / n,
        "alpha_word_ratio": sum(1 for w in tk if re.search("[A-Za-z]", w)) / n,
        "symbol_word_ratio": (text.count("#") + len(re.findall(r"\.\.\.", text))) / n,
        "dup_trigram_ratio": (1.0 - len(set(tri)) / len(tri)) if tri else 0.0,
        "stopword_hits": len({w.lower() for w in tk} & set(STOPSET)),
    }


def passes_rules(text: str) -> bool:
    v = rule_values(text)
    return (
        MIN_WORDS <= v["n_words"] <= 100_000
        and 3.0 <= v["mean_word_len"] <= 10.0
        and v["alpha_word_ratio"] >= 0.80
        and v["symbol_word_ratio"] <= 0.10
        and v["dup_trigram_ratio"] <= 0.30
        and v["stopword_hits"] >= 2
    )


def shingles(text: str) -> set:
    tk = text.split(" ")
    return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _components(nodes: list, edges: list) -> list[list[int]]:
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for v in nodes:
        groups.setdefault(find(v), []).append(v)
    return sorted(sorted(g) for g in groups.values() if len(g) > 1)


def mixture_quotas(counts: dict, n: int) -> dict:
    """``corpus_mixture``'s T=2 integer allocation (spec twin)."""
    import math

    q = {s: math.floor(math.sqrt(float(c)) * 1e6) for s, c in counts.items()}
    big = sum(q.values())
    base = {s: (n * v) // big for s, v in q.items()}
    rem = {s: (n * v) % big for s, v in q.items()}
    lo = n - sum(base.values())
    order = sorted(q, key=lambda s: (-rem[s], s))
    return {s: base[s] + (1 if order.index(s) < lo else 0) for s in q}


def gen_llm(out: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 9, size=6000)
    vocab = sorted({"".join(rng.choice(letters, size=k)) for k in lens} - set(STOPSET))
    vocab = np.array(vocab, dtype=object)
    stop = np.array(STOPSET, dtype=object)

    def words(n, with_stop=True):
        w = vocab[rng.integers(0, vocab.size, n)]
        if with_stop:
            k = max(2, n // 7)
            pos = rng.choice(n, size=k, replace=False)
            w[pos] = stop[rng.integers(0, stop.size, k)]
            w[pos[:2]] = ("the", "of")  # at least two distinct stopwords
        return w

    texts: list[str] = []
    kinds: list[str] = []
    for _ in range(N_GOOD):
        texts.append(" ".join(words(int(rng.integers(60, 141)))))
        kinds.append("good")
    for kind, count in FAIL_KINDS.items():
        for _ in range(count):
            if kind == "short":
                w = words(int(rng.integers(20, 46)))
            elif kind == "symbols":
                w = words(int(rng.integers(60, 141)))
                w[rng.choice(w.size, size=w.size // 5, replace=False)] = "#"
            elif kind == "numeric":
                w = words(int(rng.integers(60, 141)))
                idx = rng.choice(w.size, size=w.size // 3, replace=False)
                w[idx] = rng.integers(100, 99999, idx.size).astype(str)
            elif kind == "repetitive":
                w = np.tile(words(10), 9)
            else:
                w = words(int(rng.integers(60, 141)), with_stop=False)
            texts.append(" ".join(w))
            kinds.append(kind)
    good_idx = rng.permutation(N_GOOD)
    n_near_bases = sum(NEAR_CLUSTERS.values())
    near_bases = good_idx[:n_near_bases]
    copy_src = good_idx[n_near_bases:n_near_bases + N_EXACT_COPIES]
    # exact copies of distinct good docs (never of a near-dup base)
    for i in copy_src:
        texts.append(texts[i])
        kinds.append("exact_copy")
    # near-duplicate chains: each member substitutes one non-stopword of
    # the previous member
    clusters: list[list[int]] = []
    b = 0
    for size, count in NEAR_CLUSTERS.items():
        for _ in range(count):
            base = int(near_bases[b])
            b += 1
            members = [base]
            prev = texts[base].split(" ")
            for _ in range(size - 1):
                cur = list(prev)
                cand = [i for i, w in enumerate(cur) if w not in STOPSET]
                p = cand[int(rng.integers(0, len(cand)))]
                word = cur[p]
                while word == cur[p]:
                    word = vocab[int(rng.integers(0, vocab.size))]
                cur[p] = word
                members.append(len(texts))
                texts.append(" ".join(cur))
                kinds.append("near_dup")
                prev = cur
            clusters.append(members)
    n = len(texts)
    # shuffle doc ids so plants are spread over every file
    perm = rng.permutation(n)  # perm[i] = doc_id of generated doc i
    langs = _pick(rng, list(LANGS), n, p=LANG_WEIGHTS)
    doc_ids = perm.astype(np.int64)
    for i, c in enumerate(copy_src):  # copies keep the lang of their source
        langs[N_GOOD + sum(FAIL_KINDS.values()) + i] = langs[c]

    # --- expected outcomes, from the spec twins ---------------------------
    passing = [passes_rules(t) for t in texts]
    bad = [k for k, ok in zip(kinds, passing) if (k in FAIL_KINDS) == ok]
    if bad:
        raise RuntimeError(f"generator plant misclassified: {sorted(set(bad))[:5]}")
    n_pass = sum(passing)
    # exact dedup keeps the lowest doc_id per distinct text
    survivor: dict[str, int] = {}
    for i, t in enumerate(texts):
        if passing[i]:
            d = int(doc_ids[i])
            survivor[t] = min(d, survivor.get(t, d))
    kept_ids = set(survivor.values())
    near_edges = []
    near_nodes = []
    for members in clusters:
        members = [m for m in members if int(doc_ids[m]) in kept_ids]
        ids = [int(doc_ids[m]) for m in members]
        near_nodes.extend(ids)
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                if jaccard(texts[members[x]], texts[members[y]]) >= JACCARD_THRESHOLD:
                    near_edges.append((ids[x], ids[y]))
    comps = _components(near_nodes, near_edges)
    losers = {v for c in comps for v in c[1:]}
    final_ids = kept_ids - losers
    id_lang = {int(d): l for d, l in zip(doc_ids, langs)}
    counts = pd.Series([id_lang[d] for d in final_ids]).value_counts().to_dict()
    quotas = mixture_quotas({k: int(v) for k, v in counts.items()}, MIX_BUDGET)

    table = pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "lang": pa.array(langs, pa.string()),
            "text": pa.array(texts, pa.string()),
        }
    ).sort_by("doc_id")
    corpus = os.path.join(out, "in", "corpus")
    corpus_bytes = write_parquet(table, corpus)
    # the previous training release, as the corpus lakehouse table holds it:
    # the new release is upserted over it (updates, inserts and deletes)
    prev = rng.choice(np.flatnonzero(passing), size=MIX_BUDGET, replace=False)
    previous = os.path.join(out, "in", "previous_release")
    write_parquet(
        pa.table(
            {
                "doc_id": pa.array(doc_ids[prev], pa.int64()),
                "lang": pa.array(langs[prev], pa.string()),
                "mix_rank": pa.array(rng.integers(1, 300, prev.size), pa.int32()),
                "n_tokens": pa.array([len(texts[i].split()) for i in prev], pa.int64()),
                "n_chars": pa.array([len(texts[i]) for i in prev], pa.int64()),
            }
        ),
        previous,
        files=2,
    )
    return {
        "workload": "llm_curation",
        "seed": seed,
        "corpus": corpus,
        "corpus_bytes": corpus_bytes,
        "previous_release": previous,
        "threshold": JACCARD_THRESHOLD,
        "budget": MIX_BUDGET,
        "planted": {
            "docs": n,
            "rule_failures": dict(FAIL_KINDS),
            "exact_copies": N_EXACT_COPIES,
            "near_dup_clusters": {str(k): v for k, v in NEAR_CLUSTERS.items()},
            "near_dup_docs": sum(len(c) for c in clusters) - len(clusters),
            "previous_release_docs": int(prev.size),
        },
        "expected": {
            "passed": n_pass,
            "kept_after_exact": len(kept_ids),
            "near_edges": len(near_edges),
            "clusters": comps,
            "final_docs": len(final_ids),
            "quotas": quotas,
        },
    }


GENERATORS = {"wins_staging": gen_wins, "llm_curation": gen_llm}


def generate(workload: str, out: str, seed: int) -> dict:
    """Generate ``workload``'s inputs under ``out`` and write its manifest."""
    manifest = GENERATORS[workload](out, seed)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest
