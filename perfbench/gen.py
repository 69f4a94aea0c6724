"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``seed`` (numpy ``default_rng``)
and writes only below the directory it is given. The program under
test receives nothing but the files written here, so each workload's
expected outputs come from the same generator state: the upload
counts, the schema-version sequence, the store's key set after upserts,
and the documents a curation pass must or may keep (``expected_kept``).

Document texts use the 30-word vocabulary of the repository's
synthetic ``documents`` table (see FIXTURES.md).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "es", "fr", "de"]


def random_text(rng, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB, n_words))


# ---------------------------------------------------------------------------
# curation_dedup: documents with planted duplicates


@dataclass
class Corpus:
    path: str                     # directory holding documents.parquet
    texts: dict[int, str]         # doc_id -> text
    copy_of: dict[int, int]       # planted exact copy id -> its original
    clusters: list[list[int]]     # each whitespace-variant cluster: base + variants
    mutants: list[tuple[int, int]]  # (base, mutant) near-duplicate pairs
    shares: dict                  # planted kind -> share of all docs

    @property
    def n_docs(self) -> int:
        return len(self.texts)


def write_corpus(out: Path, seed: int, n_base: int, exact_share: float = 0.10,
                 cluster_sizes: tuple = (34, 16, 8),
                 mutant_share: float = 0.10, mutate_frac: float = 0.03) -> Corpus:
    """A documents table of ``n_base`` random texts of 10 to 100 words
    plus planted duplicates, in shuffled doc_id order:

    - exact copies: ``exact_share`` of the base docs get 1-3 byte-exact
      copies (what ``dedup_exact`` must remove);
    - identical-signature clusters: one base doc per entry of
      ``cluster_sizes`` gets that many whitespace variants, texts that
      differ as bytes but tokenize identically, so they survive exact
      dedup and share one MinHash signature (the ``collapse_identical``
      path; a cluster of more than 32 takes the representative-star
      path);
    - near-duplicate mutants: ``mutant_share`` of the base docs get one
      copy with ``mutate_frac`` of its words (at least one) replaced.

    The cost of the gate grows steeply with a document's length, so
    every seed gets the same shape: the base lengths are evenly spaced
    from 10 to 100 words, the planted docs are drawn by length rank
    (cluster bases of median length, exact-copy and mutant bases spread
    over all lengths), and the docs are dealt by length over 4 parquet
    files, one scan task per core. A seed changes the words and the
    doc_ids, not the amount of work. Cluster bases and mutant bases are
    distinct docs, so every planted near-duplicate group is its own
    component (see ``expected_kept``).
    """
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    # base doc i is the i-th shortest
    lengths = np.linspace(10, 100, n_base).round().astype(int)
    texts = [random_text(rng, int(n)) for n in lengths]
    kinds = ["base"] * n_base

    def plant(text: str, kind: str) -> int:
        texts.append(text)
        kinds.append(kind)
        return len(texts) - 1

    def spaced(ranks: list[int], k: int) -> list[int]:
        return [ranks[j] for j in np.linspace(0, len(ranks) - 1, k).round().astype(int)]

    for k, i in enumerate(spaced(list(range(n_base)), int(exact_share * n_base))):
        for _ in range(1 + k % 3):
            plant(texts[i], "exact_copy")
    cluster_bases = [n_base // 2 + j for j in range(len(cluster_sizes))]
    others = [i for i in range(n_base) if i not in cluster_bases]
    clusters = []
    for i, size in zip(cluster_bases, cluster_sizes):
        words = texts[i].split(" ")
        members = [i]
        for _ in range(size):
            gaps = rng.choice([" ", "  "], len(words) - 1, p=[0.9, 0.1])
            variant = words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))
            if variant == texts[i]:
                variant += " "
            members.append(plant(variant, "variant"))
        clusters.append(members)
    mutants = []
    for i in spaced(others, int(mutant_share * n_base)):
        words = texts[i].split(" ")
        for j in rng.choice(len(words), max(1, int(mutate_frac * len(words))),
                            replace=False):
            words[j] = str(rng.choice(VOCAB))
        mutants.append((i, plant(" ".join(words), "mutant")))
    ids = rng.permutation(len(texts)).astype("int64")
    # byte-exact copies collapse onto the smallest doc_id among equal
    # texts; every other member of the group is a planted copy
    first: dict[str, int] = {}
    for row in np.argsort(ids, kind="stable"):
        first.setdefault(texts[row], int(ids[row]))
    copy_of = {int(ids[r]): first[t] for r, t in enumerate(texts)
               if first[t] != int(ids[r])}
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, len(texts), p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    by_length = np.argsort(table["n_chars"].to_numpy(), kind="stable")
    for part in range(4):
        rows = np.sort(ids[by_length[part::4]])
        pq.write_table(table.take(np.argsort(ids)[rows]), out / f"part-{part}.parquet")
    return Corpus(
        path=str(out),
        texts={int(ids[r]): t for r, t in enumerate(texts)},
        copy_of=copy_of,
        clusters=[[int(ids[r]) for r in c] for c in clusters],
        mutants=[(int(ids[b]), int(ids[m])) for b, m in mutants],
        shares={f"{k}_share": round(kinds.count(k) / len(texts), 4)
                for k in ("exact_copy", "variant", "mutant")},
    )


# Gopher quality rules, as queries/curation.py states them: 10+ words,
# mean word length 2-12, top 2-gram share < 0.20, duplicated 3-gram
# share < 0.60, all over the text split on single spaces.
GOPHER_MIN_WORDS, GOPHER_MWL, GOPHER_TOP2, GOPHER_DUP3 = 10, (2.0, 12.0), 0.20, 0.60


def gopher_keep(text: str) -> bool:
    toks = text.split(" ")
    n = len(toks)
    g2 = [" ".join(toks[i:i + 2]) for i in range(n - 1)]
    g3 = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
    top2 = 2.0 * max(g2.count(g) for g in set(g2)) / n if g2 else 0.0
    dup3 = 1.0 - len(set(g3)) / len(g3) if g3 else 0.0
    mwl = sum(len(t) for t in toks) / n
    return (n >= GOPHER_MIN_WORDS and GOPHER_MWL[0] <= round(mwl, 6) <= GOPHER_MWL[1]
            and round(top2, 6) < GOPHER_TOP2 and round(dup3, 6) < GOPHER_DUP3)


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Jaccard similarity of the word n-gram sets minhash_lsh_pairs
    estimates (tokens split on runs of whitespace)."""
    def grams(t):
        w = t.split()
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}
    sa, sb = grams(a), grams(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


# A planted pair at or above this 3-gram Jaccard is an LSH candidate
# with probability 1 - (1 - 0.85**4)**16 > 0.99999 (16 bands of 4) and
# its 64-permutation estimate clears the 0.5 threshold all but surely.
SURE_JACCARD = 0.85


def expected_kept(corpus: Corpus) -> tuple[set[int], set[int]]:
    """(must, may): the ids every curation pass keeps, and the ids it
    may keep. A pass keeps all of ``must`` and nothing outside
    ``must | may``.

    The gate is the Gopher rules above; exact dedup keeps the smallest
    doc_id of each distinct gated text; keep-best keeps the longest doc
    of each near-duplicate component, the smallest doc_id on ties.
    Whitespace variants tokenize identically, so the gated survivors of
    one cluster form one component. A planted mutant pair forms a
    component when LSH finds it: surely at ``SURE_JACCARD`` or above,
    otherwise perhaps, so below it the shorter member is in ``may``.
    Random base texts over the vocabulary are never near-duplicates of
    each other (their 3-gram Jaccard is about 0)."""
    texts = corpus.texts
    survivor: dict[str, int] = {}
    for i in sorted(texts):
        if gopher_keep(texts[i]):
            survivor.setdefault(texts[i], i)
    groups: dict[tuple, list[int]] = {}
    for i in sorted(survivor.values()):
        groups.setdefault(tuple(texts[i].split()), []).append(i)

    def best(ids):
        return min(ids, key=lambda i: (-len(texts[i]), i))

    must = {best(ids) for ids in groups.values()}
    may: set[int] = set()
    for b, m in corpus.mutants:
        a, c = survivor.get(texts[b]), survivor.get(texts[m])
        if a is None or c is None or a == c:
            continue
        for x in (a, c):
            if len(groups[tuple(texts[x].split())]) != 1:
                raise ValueError(f"mutant pair member {x} is not a singleton")
        loser = ({a, c} - {best([a, c])}).pop()
        must.discard(loser)
        if shingle_jaccard(texts[a], texts[c]) < SURE_JACCARD:
            may.add(loser)
    return must, may


# ---------------------------------------------------------------------------
# etl_ingest: the six-format upload sequence


BASE_COLS = ["id", "name", "email", "amount", "signup", "content"]


@dataclass
class Upload:
    kind: str                 # ingest | upsert | scan
    fmt: str = ""             # csv json txt xml pdf docx
    path: str = ""
    n_records: int = 0
    n_with_issues: int = 0
    columns: tuple = ()       # top-level columns the reader yields
    keys: tuple = ()          # ids carried by a tabular batch
    input_bytes: int = 0


def _contents(rng, ids: np.ndarray) -> list[str]:
    """Free text carrying every pattern extract_patterns looks for."""
    n = len(ids)
    words = rng.choice(VOCAB, (n, 15)).tolist()
    n_words = rng.integers(6, 16, n)
    ph = rng.integers([200, 200, 1000], [999, 999, 9999], (n, 3))
    date = rng.integers([1, 1, 10], [13, 29, 30], (n, 3))
    ref = rng.integers([1, 0], [99999, 99], (n, 2))
    return [
        f"{' '.join(w[:k])} contact user{i}@example.com or ({p[0]}) {p[1]}-{p[2]} "
        f"by {d[0]}/{d[1]}/20{d[2]} ref {r[0]}.{r[1]}"
        for i, w, k, p, d, r in zip(ids.tolist(), words, n_words, ph.tolist(),
                                    date.tolist(), ref.tolist())
    ]


def _tabular_rows(rng, ids: np.ndarray, cols: list[str]) -> list[dict]:
    n = len(ids)
    fields = {
        "id": ids.tolist(),
        "name": [f"user {i % 9973}" for i in ids.tolist()],
        "email": [f"user{i}@example.com" for i in ids.tolist()],
        "amount": [f"{a:.2f}" for a in rng.uniform(1, 9999, n)],
        "signup": [f"{m}/{d}/2024" for m, d in zip(rng.integers(1, 13, n).tolist(),
                                                  rng.integers(1, 29, n).tolist())],
        "content": _contents(rng, ids),
        "tier": rng.choice(["gold", "silver", "bronze"], n).tolist(),
        "region": rng.choice(REGIONS, n).tolist(),
    }
    rows = [dict(zip(cols, vals)) for vals in zip(*(fields[c] for c in cols))]
    for r in np.flatnonzero(rng.random(n) < NULL_SHARE):
        rows[r]["name"] = None
    return rows


def _write_csv(path: Path, rows: list[dict], cols: list[str]) -> None:
    lines = [",".join(cols)]
    for r in rows:
        lines.append(",".join(
            "" if r[c] is None else
            (f'"{r[c]}"' if c == "content" else str(r[c])) for c in cols
        ))
    path.write_text("\n".join(lines) + "\n")


def _write_jsonl(path: Path, rows: list[dict]) -> None:
    with path.open("w") as f:
        for r in rows:
            r = dict(r, amount=float(r["amount"]))
            if r["name"] is None:
                del r["name"]            # absent key -> NULL, a quality issue
            f.write(json.dumps(r) + "\n")


DRIFT_EVERY, UPSERT_EVERY, SCAN_EVERY, NULL_SHARE = 4, 4, 2, 0.05


def write_uploads(out: Path, seed: int, n_uploads: int, tabular_rows: int,
                  doc_every: int, doc_files: int) -> list[Upload]:
    """One pass of the etl_ingest op sequence, written as upload files.

    Uploads are CSV or JSONL of ``tabular_rows`` records with columns
    ``BASE_COLS``, except every ``doc_every``-th, which is in turn TXT,
    XML, a PDF directory or a DOCX directory of ``doc_files`` files
    (built with ingest/docgen.py). Every ``DRIFT_EVERY``-th tabular
    upload adds two columns (or, alternately, drops ``signup``) and the
    next one goes back, so the schema registry bumps a version each
    way. After every ``UPSERT_EVERY`` uploads comes an upsert of a CSV
    batch keyed on ``id``, half of whose ids are already stored; after
    every ``SCAN_EVERY`` uploads a full ``records()`` scan.
    ``NULL_SHARE`` of tabular rows lack ``name``, which validation
    reports as an issue.
    """
    from dynamic_etl_pipeline_spark.ingest.docgen import build_classic_pdf, build_docx

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    pdf, docx = build_classic_pdf(), build_docx()
    ops: list[Upload] = []
    next_id = 10_000_000_000           # > 2^31, so CSV and JSON both read bigint
    stored: list[int] = []
    n_tab = 0
    doc_kinds = ["txt", "xml", "pdf", "docx"]
    for u in range(1, n_uploads + 1):
        p = out / f"u{u:03d}"
        if u % doc_every == 0:
            fmt = doc_kinds[(u // doc_every - 1) % len(doc_kinds)]
            ops.append(_write_doc_upload(rng, p, fmt, pdf, docx, doc_files))
        else:
            n_tab += 1
            cols = list(BASE_COLS)
            if n_tab % DRIFT_EVERY == 0:
                if (n_tab // DRIFT_EVERY) % 2:
                    cols += ["tier", "region"]
                else:
                    cols.remove("signup")
            ids = np.arange(next_id, next_id + tabular_rows)
            next_id += tabular_rows
            stored.extend(int(x) for x in ids)
            rows = _tabular_rows(rng, ids, cols)
            if n_tab % 2:
                fmt, f = "csv", p.with_suffix(".csv")
                _write_csv(f, rows, cols)
            else:
                fmt, f = "json", p.with_suffix(".jsonl")
                _write_jsonl(f, rows)
            ops.append(Upload("ingest", fmt, str(f), len(rows),
                              sum(r["name"] is None for r in rows),
                              tuple(cols), tuple(int(x) for x in ids),
                              f.stat().st_size))
        if u % SCAN_EVERY == 0:
            ops.append(Upload("scan"))
        if u % UPSERT_EVERY == 0:
            n = tabular_rows // 2
            old = rng.choice(stored, n // 2, replace=False)
            new = np.arange(next_id, next_id + n - len(old))
            next_id += len(new)
            ids = np.concatenate([old, new])
            rows = _tabular_rows(rng, ids, BASE_COLS)
            f = p.with_name(p.name + "-upsert.csv")
            _write_csv(f, rows, BASE_COLS)
            stored.extend(int(x) for x in new)
            ops.append(Upload("upsert", "csv", str(f), len(rows),
                              sum(r["name"] is None for r in rows),
                              tuple(BASE_COLS), tuple(int(x) for x in ids),
                              f.stat().st_size))
    return ops


def _write_doc_upload(rng, p: Path, fmt: str, pdf: bytes, docx: bytes,
                      doc_files: int) -> Upload:
    if fmt == "txt":
        lines = _contents(rng, rng.integers(0, 10**6, 400))
        lines[::7] = [""] * len(lines[::7])          # blank lines are skipped
        f = p.with_suffix(".txt")
        f.write_text("\n".join(lines) + "\n")
        return Upload("ingest", "txt", str(f), sum(bool(x) for x in lines), 0,
                      ("path", "line_no", "content"), (), f.stat().st_size)
    if fmt == "xml":
        kids = "".join(
            f'<item sku="{rng.integers(1, 10**6)}" zone="{rng.choice(REGIONS)}">'
            f"{random_text(rng, 8)}</item>" for _ in range(300)
        )
        f = p.with_suffix(".xml")
        f.write_text(f"<catalog>{kids}</catalog>")
        return Upload("ingest", "xml", str(f), 300, 0,
                      ("path", "child_no", "tag", "attrs", "_text"), (),
                      f.stat().st_size)
    # PDF (3 pages each) / DOCX (3 non-empty paragraphs each) directories
    p.mkdir()
    raw = pdf if fmt == "pdf" else docx
    for j in range(doc_files):
        (p / f"doc{j:03d}.{fmt}").write_bytes(raw)
    unit = "page_no" if fmt == "pdf" else "para_no"
    return Upload("ingest", fmt, str(p), 3 * doc_files, 0,
                  ("path", unit, "content"), (), doc_files * len(raw))


def expected_versions(ops: list[Upload]) -> list[int]:
    """Schema version each upload/upsert registers: the registry bumps
    whenever an upload's top-level field set differs from the latest
    registered one (ingest adds ``_extracted_patterns`` when the batch
    has a ``content`` column)."""
    versions, latest, v = [], None, 0
    for op in ops:
        if op.kind == "scan":
            continue
        fields = set(op.columns) | ({"_extracted_patterns"}
                                    if "content" in op.columns else set())
        if fields != latest:
            v, latest = v + 1, fields
        versions.append(v)
    return versions
