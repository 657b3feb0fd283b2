"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical parquet files, and each returns the
planted truth the per-op output checks compare against. Inputs are
written with pyarrow, split into several files so Spark scans them with
one task per core; the engine only ever reads the written files.
"""

from __future__ import annotations

import hashlib
import os
import random
from bisect import bisect
from itertools import accumulate

import pyarrow as pa
import pyarrow.parquet as pq

STATEMENT_SCHEMA = pa.schema([
    ("id", pa.string()), ("entity_id", pa.string()),
    ("canonical_id", pa.string()), ("prop", pa.string()),
    ("schema", pa.string()), ("value", pa.string()),
    ("dataset", pa.string()), ("lang", pa.string()),
    ("origin", pa.string()), ("original_value", pa.string()),
    ("external", pa.bool_()), ("first_seen", pa.string()),
    ("last_seen", pa.string()),
])

SUBJECT_SCHEMA = pa.schema([
    ("id", pa.string()), ("name", pa.string()),
    ("strong_ids", pa.list_(pa.string())),
    ("id_numbers", pa.list_(pa.string())),
])

DOCUMENT_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()),
    ("lang", pa.string()), ("source", pa.string()),
])

COUNTRIES = ["us", "ru", "ir", "cn", "de", "gb", "fr", "ae", "tr", "kp",
             "sy", "ve", "by", "cu", "ua", "in", "pk", "ng", "br", "mx"]
PROGRAMS = ["SDGT", "UKRAINE-EO13662", "IRAN", "SDNTK", "CYBER2", "RUSSIA-EO14024"]
TOPICS = ["sanction", "sanction.linked", "poi", "crime", "debarment"]


class Zipf:
    """Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s."""

    def __init__(self, n: int, s: float = 1.0) -> None:
        self.cum = list(accumulate(1.0 / (r + 1) ** s for r in range(n)))
        self.n = n

    def draw(self, rng: random.Random) -> int:
        return min(bisect(self.cum, rng.random() * self.cum[-1]), self.n - 1)


def _syllable_words(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    """n distinct pronounceable lowercase words of lo..hi syllables."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(cons) + rng.choice(vows)
            for _ in range(rng.randint(lo, hi))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_parts(rows: list[tuple], schema: pa.Schema, path: str,
                 n_files: int) -> None:
    """Write rows as ``n_files`` parquet parts under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def digest_dir(path: str) -> str:
    """Short sha256 over every file under ``path`` (names and bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# -- nightly_run: an OFAC-shaped statement corpus, two versions -----------

def _entity_props(rng: random.Random, schema: str, words: list[str],
                  zipf: Zipf, people: list[str], legal: list[str],
                  addresses: list[str]) -> dict:
    """One entity's property map (prop -> sorted value list)."""
    def name(k: int) -> str:
        return " ".join(words[zipf.draw(rng)] for _ in range(k)).title()

    def date() -> str:
        return f"{rng.randint(1940, 2020)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"

    p: dict[str, list[str]] = {}
    if schema == "Person":
        p["name"] = [name(rng.randint(2, 3))]
        if rng.random() < 0.4:
            p["alias"] = [name(2)]
        p["birthDate"] = [date()]
        p["nationality"] = [rng.choice(COUNTRIES)]
        p["idNumber"] = [f"P{rng.randrange(10**9):09d}"]
        if addresses and rng.random() < 0.5:
            p["addressEntity"] = [rng.choice(addresses)]
    elif schema in ("Company", "Organization"):
        p["name"] = [name(rng.randint(2, 4))]
        p["jurisdiction" if schema == "Company" else "country"] = [rng.choice(COUNTRIES)]
        p["registrationNumber"] = [f"R{rng.randrange(10**8):08d}"]
        p["incorporationDate"] = [date()]
        if addresses and rng.random() < 0.5:
            p["addressEntity"] = [rng.choice(addresses)]
    elif schema == "Address":
        p["full"] = [f"{rng.randint(1, 999)} {name(2)} Street, {name(1)}"]
        p["country"] = [rng.choice(COUNTRIES)]
    elif schema == "Sanction":
        p["entity"] = [rng.choice(legal)]
        p["authority"] = ["Office of Foreign Assets Control"]
        p["program"] = [rng.choice(PROGRAMS)]
        p["startDate"] = [date()]
    elif schema == "Ownership":
        p["owner"] = [rng.choice(legal)]
        p["asset"] = [rng.choice(legal)]
        p["percentage"] = [str(rng.randint(1, 100))]
    elif schema == "Directorship":
        p["director"] = [rng.choice(people)]
        p["organization"] = [rng.choice(legal)]
        p["role"] = [rng.choice(["Director", "Chairman", "Secretary"])]
    elif schema == "Family":
        p["person"] = [rng.choice(people)]
        p["relative"] = [rng.choice(people)]
        p["relationship"] = [rng.choice(["spouse", "child", "sibling"])]
    if schema in ("Person", "Company", "Organization") and rng.random() < 0.6:
        p["topics"] = [rng.choice(TOPICS)]
    return p


NIGHTLY_MIX = [  # (schema, share of entities)
    ("Person", 0.36), ("Company", 0.22), ("Organization", 0.06),
    ("Address", 0.12), ("Sanction", 0.12), ("Ownership", 0.05),
    ("Directorship", 0.05), ("Family", 0.02),
]


def _statement_rows(entities: dict, dataset: str, stamp: str) -> list[tuple]:
    rows = []
    for eid, (schema, props) in entities.items():
        for prop, values in props.items():
            for v in values:
                sid = hashlib.md5(f"{dataset}|{eid}|{prop}|{v}".encode()).hexdigest()
                rows.append((sid, eid, eid, prop, schema, v, dataset, None,
                             None, None, False, stamp, stamp))
    return rows


def gen_nightly(seed: int, n_entities: int, out_dir: str, dataset: str) -> dict:
    """Two versions of one dataset's statements: ``prev`` (already in the
    archive before each op) and ``curr`` (the crawl output the op runs).

    Planted changes between them: about 3% of ``prev`` entities deleted,
    3% new entities added and 20% of the survivors modified (one value
    replaced, added or removed). Returns the planted truth."""
    rng = random.Random(seed)
    words = _syllable_words(rng, 4000, 1, 3)
    zipf = Zipf(len(words), 1.05)
    counts = {s: max(1, int(n_entities * f)) for s, f in NIGHTLY_MIX}
    ids = {s: [f"{s[:2].lower()}-{seed}-{i}" for i in range(n)]
           for s, n in counts.items()}
    people = ids["Person"]
    legal = people + ids["Company"] + ids["Organization"]
    addresses = ids["Address"]
    all_ids = [(s, e) for s, es in ids.items() for e in es]
    # a prefix of every schema's ids is "new" this run (ADD); deletions
    # come from the same schemas so both versions share one mix
    rng.shuffle(all_ids)
    n_add = int(len(all_ids) * 0.03)
    n_del = int(len(all_ids) * 0.03)
    added = set(e for _, e in all_ids[:n_add])
    deleted = set(e for _, e in all_ids[n_add:n_add + n_del])
    entities = {}
    for schema, eid in all_ids:
        entities[eid] = (schema, _entity_props(
            rng, schema, words, zipf, people, legal, addresses))
    prev = {e: v for e, v in entities.items() if e not in added}
    curr = {}
    n_mod = 0
    for eid, (schema, props) in entities.items():
        if eid in deleted:
            continue
        if eid not in added and rng.random() < 0.20:
            props = {k: list(v) for k, v in props.items()}
            kind = rng.random()
            if kind < 0.5 or len(props) < 3:
                key = rng.choice(sorted(props))
                props[key] = [props[key][0] + " Jr" if key == "name"
                              else props[key][0] + "-2"]
            elif kind < 0.8:
                props["notes"] = [f"amended {rng.randrange(10**6)}"]
            else:
                removable = [k for k in sorted(props)
                             if k not in ("name", "full", "entity", "owner",
                                          "asset", "director", "organization",
                                          "person", "relative")]
                if removable:
                    del props[rng.choice(removable)]
                else:
                    props["notes"] = [f"amended {rng.randrange(10**6)}"]
            n_mod += 1
        curr[eid] = (schema, props)
    prev_rows = _statement_rows(prev, dataset, "2026-07-01T00:00:00")
    curr_rows = _statement_rows(curr, dataset, "2026-08-01T00:00:00")
    _write_parts(prev_rows, STATEMENT_SCHEMA, os.path.join(out_dir, "prev"), 6)
    _write_parts(curr_rows, STATEMENT_SCHEMA, os.path.join(out_dir, "curr"), 6)
    return {
        "entities": len(curr),
        "statements": len(curr_rows),
        "prev_statements": len(prev_rows),
        "delta": {"ADD": n_add, "MOD": n_mod, "DEL": n_del},
    }


# -- xref_resolve: Zipf-named subjects with planted duplicates -----------

def gen_subjects(seed: int, n_base: int, out_path: str,
                 vocab: int = 20_000) -> dict:
    """Subjects(id, name, strong_ids, id_numbers) for the xref workload.

    Names are 2-4 tokens drawn from a Zipf vocabulary, so a long tail of
    tokens sits just under the blocking document-frequency cap and the
    bucket expansion has real work. On top of ``n_base`` distinct
    subjects the generator plants fuzzy duplicates (a token dropped,
    swapped or misspelled) and strong-id groups of 2-4 subjects sharing
    one identifier. Returns the planted strong-id groups and fuzzy pairs
    ``(f<j>, s<i>)``; ``f`` sorts before ``s``, so each pair is in the
    ``left_id < right_id`` orientation of the xref decisions."""
    rng = random.Random(seed)
    words = _syllable_words(rng, vocab, 2, 3)
    zipf = Zipf(vocab, 0.9)
    rows: list[tuple] = []

    def base_name() -> list[str]:
        return [words[zipf.draw(rng)] for _ in range(rng.randint(2, 4))]

    names = []
    for i in range(n_base):
        toks = base_name()
        names.append(toks)
        rows.append((f"s{i}", " ".join(toks), [], [f"N{rng.randrange(10**7)}"]))
    n_fuzzy = n_base // 10
    fuzzy_pairs: list[tuple[str, str]] = []
    for j in range(n_fuzzy):
        i = rng.randrange(n_base)
        toks = list(names[i])
        kind = rng.random()
        if kind < 0.34 and len(toks) > 2:
            del toks[rng.randrange(len(toks))]
        elif kind < 0.67:
            rng.shuffle(toks)
        else:
            k = rng.randrange(len(toks))
            w = toks[k]
            pos = rng.randrange(len(w))
            toks[k] = w[:pos] + rng.choice("aeiou") + w[pos + 1:]
        rows.append((f"f{j}", " ".join(toks), [], []))
        fuzzy_pairs.append((f"f{j}", f"s{i}"))
    groups: list[list[str]] = []
    for g in range(n_base // 50):
        sid = f"Q{seed}-{g}"
        members = []
        for m in range(rng.randint(2, 4)):
            mid = f"g{g}-{m}"
            rows.append((mid, " ".join(base_name()), [sid], []))
            members.append(mid)
        groups.append(members)
    rng.shuffle(rows)
    _write_parts(rows, SUBJECT_SCHEMA, out_path, 6)
    return {"subjects": len(rows), "fuzzy": fuzzy_pairs, "groups": groups}


# -- stream_curate: document waves with planted duplicates ---------------

def gen_documents(seed: int, n_per_wave: int, n_waves: int, out_dir: str,
                  vocab: int = 5000) -> dict:
    """``n_waves`` file drops of documents(doc_id, text, lang, source).

    Wave 0 is all fresh text. Every later wave is 70% fresh, 15% exact
    copies of earlier fresh documents (new doc_id, same text) and 15%
    near copies (one or two tokens replaced). Returns the doc_ids of the
    planted exact copies, which must never be admitted."""
    rng = random.Random(seed)
    words = _syllable_words(rng, vocab, 1, 3)
    zipf = Zipf(vocab, 1.0)
    fresh: list[list[str]] = []
    exact_ids: list[int] = []
    doc_id = 0
    for w in range(n_waves):
        earlier = len(fresh)
        rows = []
        for _ in range(n_per_wave):
            r = rng.random()
            if w == 0 or r < 0.70:
                toks = [words[zipf.draw(rng)] for _ in range(rng.randint(30, 120))]
                fresh.append(toks)
            elif r < 0.85:
                toks = fresh[rng.randrange(earlier)]
                exact_ids.append(doc_id)
            else:
                toks = list(fresh[rng.randrange(len(fresh))])
                for _ in range(rng.randint(1, 2)):
                    toks[rng.randrange(len(toks))] = words[zipf.draw(rng)]
            rows.append((doc_id, " ".join(toks), rng.choice(["en", "de", "fr"]),
                         f"src{rng.randrange(8)}"))
            doc_id += 1
        _write_parts(rows, DOCUMENT_SCHEMA, os.path.join(out_dir, f"wave-{w}"), 3)
    return {"documents": doc_id, "exact_ids": exact_ids}
