"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
writes byte-identical files, a different seed different ones. Inputs
are synthetic in the shape of the engine's fixture tables (the
``documents`` / ``embeddings`` schemas of ``sources.fixtures``) so the
benchmark needs nothing outside its own checkout. Generation is
vectorized with numpy and happens once per seed, outside every timed
region; ``ensure_inputs`` returns the cached manifest on later runs.
"""

from __future__ import annotations

import json
import os
from datetime import date
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus's filler vocabulary (30 tokens, near-uniform).
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
N_SOURCES = 20
DIM = 64

FIRST_NAMES = np.array(
    "James Mary Robert Patricia John Jennifer Michael Linda David Elizabeth "
    "William Barbara Richard Susan Joseph Jessica Thomas Sarah Charles Karen "
    "José María Zoë Renée Chloé Noël Inés Ramón Jürgen Søren Ángel Léa "
    "Björn Ñuño Élodie Françoise".split()
)
CITIES = np.array(
    ["Austin", "Dallas", "El Paso", "Houston", "San Antonio", "Laredo",
     "Cañon City", "Lubbock", "Waco", "Tyler"]
)
STREETS = np.array(
    ["Main St", "Oak Ave", "Elm St", "Pine Rd", "Cedar Ln", "Maple Dr",
     "Lake Blvd", "Hill St", "River Rd", "Peña Ct"]
)
PARTIES = np.array(["DEM", "REP", "LIB", "GRN", "IND", ""])
PARTY_P = np.array([0.38, 0.37, 0.05, 0.03, 0.12, 0.05])
CSV_COLUMNS = [
    "state_file_id", "county_file_id", "first_name", "last_name",
    "birth_date", "address", "city", "zip", "phone", "registered_at", "party",
]
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)

# Workload sizes. BENCHMARK.json states the same numbers.
SIZES = {
    "voter_import": {"csv_rows": 2_000, "registry_rows": 4_000},
    "corpus_dedup": {"docs": 500, "vectors": 500, "group": 10},
}
GEN_VERSION = 2


def _rng(workload: str, seed: int) -> np.random.Generator:
    tag = sum(ord(c) * 31**i for i, c in enumerate(workload)) % (2**31)
    return np.random.default_rng([seed, tag, GEN_VERSION])


def _words(rng: np.random.Generator, lengths: np.ndarray) -> list[str]:
    """One text per length: `length` tokens drawn uniformly from VOCAB."""
    toks = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    return [" ".join(t) for t in np.split(toks, cuts)]


def _perturb(rng: np.random.Generator, text: str, n_edits: int) -> str:
    toks = text.split(" ")
    for pos in rng.integers(0, len(toks), n_edits):
        toks[pos] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(toks)


def _docs_table(doc_ids: np.ndarray, texts: list[str], rng) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array(
                np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str))
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _grouped_docs(rng, n_docs: int, group: int) -> pa.Table:
    """Duplicate-heavy corpus: groups of ~`group` documents, each an
    exact copy (half) or a 1-3 token edit (half) of its group's base
    text. doc_ids are a random permutation, so groups interleave."""
    n_groups = max(1, n_docs // group)
    bases = _words(rng, rng.integers(10, 101, n_groups))
    gid = np.sort(rng.integers(0, n_groups, n_docs))
    gid[:n_groups] = np.arange(n_groups)
    exact = rng.random(n_docs) < 0.5
    edits = rng.integers(1, 4, n_docs)
    texts = [
        bases[g] if exact[i] else _perturb(rng, bases[g], int(edits[i]))
        for i, g in enumerate(gid)
    ]
    order = rng.permutation(n_docs)
    return _docs_table(np.arange(n_docs)[np.argsort(order)], texts, rng)


def _grouped_vectors(rng, n_vecs: int, group: int) -> pa.Table:
    """Unit vectors in groups of ~`group`: exact copies (40%) and
    perturbations (cosine ~0.9) of a random base direction."""
    n_groups = max(1, n_vecs // group)
    base = rng.standard_normal((n_groups, DIM))
    gid = rng.integers(0, n_groups, n_vecs)
    gid[:n_groups] = np.arange(n_groups)
    noise = rng.standard_normal((n_vecs, DIM)) * 0.25
    noise[rng.random(n_vecs) < 0.4] = 0.0
    v = base[gid] / np.linalg.norm(base[gid], axis=1, keepdims=True) * 4.0 + noise
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_groups)[gid].astype(np.int32)
    order = rng.permutation(n_vecs)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs)[np.argsort(order)], pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _names(rng, n: int, length: int = 10) -> np.ndarray:
    """Random lowercase-letter surnames, capitalized. Two random names
    share almost no trigrams, so a one-letter typo stays far closer to
    its original than to any other name (fuzzy ground truth)."""
    raw = _LETTERS[rng.integers(0, 26, (n, length))]
    return np.char.capitalize(raw.view(f"S{length}").ravel().astype(str))


def _dates(rng, n: int, lo: date, hi: date) -> np.ndarray:
    days = rng.integers(lo.toordinal(), hi.toordinal(), n)
    return (days - date(1970, 1, 1).toordinal()).astype("datetime64[D]")


def _voter_inputs(rng, csv_rows: int, registry_rows: int, out: Path) -> dict:
    """A registry parquet and a messy ISO-8859-1 voter CSV matched
    against it, plus the ground truth the checks use.

    CSV rows fall into five classes: matched by state_file_id (rule 1),
    by county_file_id + last_name (rule 2), by first/last name + birth
    date (rule 3), by a one-letter surname typo (the fuzzy round), and
    new voters. The registry carries planted duplicate pairs for the
    dedup job: same name + birth date (rule 1) or same phone (rule 2).
    """
    r = registry_rows
    n_dup = r // 50  # planted pairs per dedup rule
    voter_id = rng.permutation(r).astype(np.int64) + 1
    last = _names(rng, r)
    first = FIRST_NAMES[rng.integers(0, len(FIRST_NAMES), r)]
    birth = _dates(rng, r, date(1930, 1, 1), date(2006, 1, 1))
    phone_pool = rng.permutation(9_000_000)[: r + csv_rows] + 1_000_000
    phone = phone_pool[:r].copy()
    # planted duplicates: rows [0, n_dup) copy the identity of rows
    # [n_dup, 2n_dup); rows [2n_dup, 3n_dup) share the phone of
    # [3n_dup, 4n_dup)
    first[:n_dup], last[:n_dup], birth[:n_dup] = (
        first[n_dup : 2 * n_dup], last[n_dup : 2 * n_dup], birth[n_dup : 2 * n_dup],
    )
    phone[2 * n_dup : 3 * n_dup] = phone[3 * n_dup : 4 * n_dup]
    street_no = rng.integers(1, 9999, r)
    addr = np.char.add(np.char.add(street_no.astype(str), " "), STREETS[rng.integers(0, len(STREETS), r)])
    city = CITIES[rng.integers(0, len(CITIES), r)]
    zips = rng.integers(73301, 79999, r)
    party = PARTIES[rng.choice(len(PARTIES), r, p=PARTY_P)]
    registered = _dates(rng, r, date(1990, 1, 1), date(2024, 1, 1))
    state_id = np.char.add("TX", np.char.zfill(voter_id.astype(str), 9))
    county_id = np.char.add("C", np.char.zfill((voter_id * 7 + 13).astype(str), 9))
    registry = pa.table(
        {
            "voter_id": pa.array(voter_id, pa.int64()),
            "state_file_id": pa.array(state_id),
            "county_file_id": pa.array(county_id),
            "first_name": pa.array(first),
            "last_name": pa.array(last),
            "birth_date": pa.array(birth, pa.date32()),
            "address": pa.array(addr),
            "city": pa.array(city),
            "zip": pa.array(zips.astype(str)),
            "phone": pa.array(np.char.add("512", phone.astype(str))),
            "registered_at": pa.array(registered, pa.date32()),
            "party": pa.array(party),
        }
    )

    # CSV rows: classes by share; matched classes take distinct
    # registry rows outside the planted-duplicate block
    n = csv_rows
    shares = {"rule1": 0.35, "rule2": 0.20, "rule3": 0.15, "fuzzy": 0.10}
    counts = {k: int(n * s) for k, s in shares.items()}
    counts["new"] = n - sum(counts.values())
    targets = rng.permutation(np.arange(4 * n_dup, r))[: n - counts["new"]]
    cls = np.repeat(np.arange(5), [counts[k] for k in ("rule1", "rule2", "rule3", "fuzzy", "new")])
    rng.shuffle(cls)
    tgt = np.full(n, -1)
    matched = cls < 4
    tgt[matched] = targets
    t = np.where(matched, tgt, 0)

    s_state = np.where(cls == 0, state_id[t], "")
    s_county = np.where(cls == 1, county_id[t], "")
    s_first = np.where(matched, first[t], FIRST_NAMES[rng.integers(0, len(FIRST_NAMES), n)])
    s_last = np.where(matched, last[t], _names(rng, n))
    typo = _LETTERS[rng.integers(0, 26, n)].view("S1").astype(str)
    fz = cls == 3
    old_tail = np.array([s[-1] for s in s_last[fz]])
    new_tail = np.where(typo[fz] == old_tail, np.where(old_tail == "a", "b", "a"), typo[fz])
    s_last[fz] = np.char.add(np.array([s[:-1] for s in s_last[fz]]), new_tail)
    s_birth = np.where(matched, birth[t], _dates(rng, n, date(1930, 1, 1), date(2006, 1, 1)))
    # the fuzzy class must not match rule 3 by accident: shift its birth date
    s_birth[fz] = s_birth[fz] + np.timedelta64(1, "D")
    new = cls == 4
    new_ids = np.arange(new.sum()) + 900_000_000
    s_state[new] = np.char.add("TX", np.char.zfill(new_ids.astype(str), 9))
    s_phone = np.char.add("512", phone_pool[r : r + n].astype(str))
    s_addr = np.char.add(
        np.char.add(rng.integers(1, 9999, n).astype(str), " "),
        STREETS[rng.integers(0, len(STREETS), n)],
    )
    apt = rng.random(n) < 0.3
    s_addr[apt] = np.char.add(s_addr[apt], np.char.add(", Apt ", rng.integers(1, 40, apt.sum()).astype(str)))
    s_reg = _dates(rng, n, date(1990, 1, 1), date(2024, 1, 1)).astype(str)
    bad = rng.random(n) < 0.02
    s_reg[bad] = np.array(["2019-13-45", "not a date", "31/02/2020", "0000-00-00"])[rng.integers(0, 4, bad.sum())]

    def q(col: np.ndarray) -> np.ndarray:
        """^-quote values holding the delimiter."""
        has = np.char.find(col, ",") >= 0
        return np.where(has, np.char.add(np.char.add("^", col), "^"), col)

    fields = [
        s_state, s_county, q(s_first), q(s_last), s_birth.astype(str), q(s_addr),
        q(CITIES[rng.integers(0, len(CITIES), n)]), rng.integers(73301, 79999, n).astype(str),
        s_phone, s_reg, PARTIES[rng.choice(len(PARTIES), n, p=PARTY_P)],
    ]
    lines = [",".join(row) for row in zip(*fields)]
    # junk lines: ~0.5% wrong field count, ~0.2% blank
    n_bad = max(1, n // 200)
    n_blank = max(1, n // 500)
    bad_lines = [
        ",".join(["X"] * int(k)) for k in rng.choice([5, 9, 13, 14], n_bad)
    ]
    junk = bad_lines + [""] * n_blank
    pos = rng.integers(0, n + 1, len(junk))
    for p, line in sorted(zip(pos, junk), key=lambda x: -x[0]):
        lines.insert(int(p), line)
    body = ",".join(CSV_COLUMNS) + "\n" + "\n".join(lines) + "\n"
    csv_path = out / "voters.csv"
    csv_path.write_bytes(body.encode("iso-8859-1"))
    pq.write_table(registry, out / "registry.parquet")
    return {
        "data_lines": len(lines),
        "good_rows": n,
        "malformed_lines": n_bad + n_blank,
        "per_rule": {"1": counts["rule1"], "2": counts["rule2"], "3": counts["rule3"], "4": counts["fuzzy"]},
        "new_rows": counts["new"],
        "registry_rows": r,
        "planted_dups": {"1": n_dup, "2": n_dup},
    }


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write `workload`'s inputs for `seed` into `out`; returns the
    ground-truth part of the manifest."""
    out.mkdir(parents=True, exist_ok=True)
    rng = _rng(workload, seed)
    size = SIZES[workload]
    if workload == "voter_import":
        return _voter_inputs(rng, size["csv_rows"], size["registry_rows"], out)
    if workload == "corpus_dedup":
        _write(_grouped_docs(rng, size["docs"], size["group"]), out / "documents.parquet")
        _write(_grouped_vectors(rng, size["vectors"], size["group"]), out / "embeddings.parquet")
        return {}
    raise ValueError(f"unknown workload {workload!r}")


def _file_rows(path: Path) -> int:
    if path.suffix == ".parquet":
        return pq.ParquetFile(path).metadata.num_rows
    with open(path, "rb") as fh:
        return sum(1 for _ in fh) - 1  # minus the header line


def ensure_inputs(workload: str, seed: int, root: Path) -> tuple[Path, dict]:
    """Generate (or reuse) the inputs of (workload, seed) under `root`.
    Returns the input directory and its manifest: per-file rows and
    bytes plus the generator's ground truth."""
    size = "-".join(str(v) for v in SIZES[workload].values())
    d = root / f"{workload}-seed{seed}-{size}-v{GEN_VERSION}"
    manifest_path = d / "manifest.json"
    if manifest_path.exists():
        return d, json.loads(manifest_path.read_text())
    truth = generate(workload, seed, d)
    files = {
        p.name: {"rows": _file_rows(p), "bytes": p.stat().st_size}
        for p in sorted(d.iterdir())
        if p.suffix in (".csv", ".parquet")
    }
    manifest = {"workload": workload, "seed": seed, "sizes": SIZES[workload], "files": files, "truth": truth}
    tmp = manifest_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    os.replace(tmp, manifest_path)
    return d, manifest
