"""Seeded inputs for the benchmark workloads, their digests, and the outputs
each call must produce.

Everything here runs outside the timed region. Expected outputs come from
how the generators made each row, never from the engine under test.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from np_data_validation_spark import synth
from np_data_validation_spark.functions import text as TX
from np_data_validation_spark.operators import verdicts as V

# ---------------------------------------------------------------------------
# validation inputs (sequences + manifest)
# ---------------------------------------------------------------------------

#: Final verdict code and row status of each synth fault case (the contract
#: of synth.py, also pinned by the verdict tests).
CASE_VERDICT = {
    "clean": (V.SELF, "pass"),
    "valid_copy": (V.VALID_COPY_SAME_NAME, "pass"),
    "valid_copy_renamed": (V.VALID_COPY_RENAMED, "pass"),
    "unsynced_data": (V.UNSYNCED_DATA, "fail"),
    "unsynced_checksum": (V.UNSYNCED_CHECKSUM, "fail"),
    "corrupt": (V.UNSYNCED_OR_CORRUPT_DATA, "fail"),
    "collision": (V.CHECKSUM_COLLISION, "unknown"),
    "self_no_checksum": (V.SELF_NO_CHECKSUM, "pass"),
    "other_no_checksum": (V.OTHER_NO_CHECKSUM, "pass"),
    "missing": (V.MISSING_COUNTERPART, "fail"),
    "duplicate": (V.SELF, "pass"),
    "duplicate_mixed": (V.SELF, "pass"),
    "inconsistent": (V.SELF, "pass"),
    "n_tok_mismatch": (V.UNKNOWN, "unknown"),
    "renamed_null_ntok": (V.UNKNOWN, "unknown"),
}

#: Violation rows each case contributes (one snapshot row per case, plus
#: the appended copy for the duplicate cases).
CASE_VIOLATIONS = {
    "unsynced_data": "SIZE_MISMATCH",
    "unsynced_checksum": "STALE_CHECKSUM",
    "corrupt": "CHECKSUM_MISMATCH",
    "missing": "MISSING_COUNTERPART",
    "duplicate": "DUPLICATE_DOC_ID",
    "duplicate_mixed": "DUPLICATE_DOC_ID",
    "n_tok_mismatch": "N_TOK_MISMATCH",
    "renamed_null_ntok": "NULL_N_TOK",
}

#: Manifest-wide audit rows: conflicting hashes per doc_id, and manifest
#: entries whose doc_id the snapshot does not hold (renamed counterparts).
CASE_AUDIT = {
    "inconsistent": "INCONSISTENT_GROUP",
    "valid_copy_renamed": "MISSING_IN_SNAPSHOT",
    "collision": "MISSING_IN_SNAPSHOT",
    "renamed_null_ntok": "MISSING_IN_SNAPSHOT",
}

#: Cases whose snapshot identity misses the stage-1 doc_id join and goes to
#: the content probe.
STAGE1_MISS_CASES = ("missing", "valid_copy_renamed", "collision", "renamed_null_ntok")


def make_validation(root: str, seed: int, n_rows: int, min_len: int, max_len: int) -> dict:
    """Write ``root/sequences`` and ``root/manifest`` and return what a
    correct run over them must produce."""
    labels = synth.generate_dataset(
        root, n_rows=n_rows, seed=seed, min_len=min_len, max_len=max_len
    )
    cases = labels["case"].to_numpy()
    verdicts = Counter()
    status = Counter()
    per_source: dict[str, Counter] = {}
    for case, src in zip(cases, labels["source"].to_numpy()):
        code, st = CASE_VERDICT[case]
        verdicts[code] += 1
        status[st] += 1
        per_source.setdefault(src, Counter())[st] += 1
    count = Counter(cases)
    violations = Counter()
    audit = Counter()
    for case, n in count.items():
        if case in CASE_VIOLATIONS:
            violations[CASE_VIOLATIONS[case]] += n
        if case in CASE_AUDIT:
            audit[CASE_AUDIT[case]] += n
    return {
        "rows": int(len(labels) + count["duplicate"] + count["duplicate_mixed"]),
        "subjects": int(len(labels)),
        "verdicts": {int(k): v for k, v in verdicts.items()},
        "status": dict(status),
        "per_source": {s: dict(c) for s, c in per_source.items()},
        "violations": dict(violations),
        "audit": dict(audit),
        "stage1_miss": int(sum(count[c] for c in STAGE1_MISS_CASES)),
        "validated": sorted(per_source),
        "skipped": [],
        "labels": labels,
    }


def corrupt_partition(seq_dir: str, source: str, doc_ids: list[str]) -> None:
    """Flip the first token of the given rows of one partition in place:
    row count, lengths and ids stay, so only a content-aware fingerprint
    sees the change, and each row's verdict turns from SELF to UNKNOWN."""
    path = os.path.join(seq_dir, f"source={source}", "part-0.parquet")
    tbl = pq.read_table(path)
    toks = tbl.column("tokens").combine_chunks()
    offs = toks.offsets.to_numpy()
    flat = toks.values.to_numpy().copy()
    hit = np.isin(tbl.column("doc_id").to_numpy(zero_copy_only=False), doc_ids)
    flat[offs[:-1][hit]] ^= 1
    new = pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()), pa.array(flat), mask=toks.is_null()
    )
    tbl = tbl.set_column(tbl.schema.get_field_index("tokens"), "tokens", new)
    pq.write_table(tbl, path)


def probe_tier(n_missing: int) -> str:
    """The content-probe branch validate_onepass takes for a miss count."""
    if n_missing <= V.PROBE_BROADCAST_MAX:
        return "broadcast"
    if n_missing <= V.PROBE_KEYS_BROADCAST_MAX:
        return "keyed"
    return "shuffle"


def token_buffers(seq_dir: str) -> list[tuple[np.ndarray, np.ndarray]]:
    """(flat int32 tokens, offsets) of every sequences file, nulls dropped —
    the buffers the hash kernel sees."""
    out = []
    for path in sorted(_files(seq_dir)):
        col = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
        col = col.filter(col.is_valid())
        offs = col.offsets.to_numpy()
        flat = col.values.to_numpy()[offs[0] : offs[-1]]
        out.append((flat, offs - offs[0]))
    return out


# ---------------------------------------------------------------------------
# corpus-preparation inputs (documents + eval suite)
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """Pseudo-words of 3-9 letters, none of them a stopword of any language
    the funnel's language vote knows."""
    stop = {w for ws in TX.LANG_STOPWORDS.values() for w in ws}
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 10))))
        if w not in stop:
            words.add(w)
    return np.array(sorted(words))


def sampled(doc_id: int, rate_ppm: int) -> bool:
    """functions.text.hash_sample_predicate with an empty salt."""
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return h % 1_000_000 < rate_ppm


def make_corpus(n_docs: int, seed: int, sample_ppm: int):
    """(documents, eval suite, expected disposition per doc_id).

    Documents are prose over a seeded vocabulary with an English stopword in
    every fifth slot (never two adjacent, so no stopword-only word 4-gram
    can fake a contamination hit). Planted: rejects for the language,
    length, repetition and PII stages; exact copies and near copies
    (5-character prefix cut, Jaccard ~0.98) of clean documents; and half the
    eval suite leaked into the corpus with the same cut. Each document's
    disposition follows from how it was made: the first funnel stage it
    fails, else contaminated, else exact/near by the lowest doc_id of its
    copy group, else the sampling hash."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 5000)
    english = TX.LANG_STOPWORDS["en"]

    def prose(k: int) -> str:
        w = rng.choice(vocab, size=k)
        w[2::5] = rng.choice(english, size=len(w[2::5]))
        return " ".join(w) + "."

    texts: list[str] = []
    label: list[str] = []  # funnel reason, 'contaminated' or 'clean'
    group: list[int] = []  # copy group of clean documents, else -1
    kind: list[str] = []  # 'orig', 'exact', 'near'
    for _ in range(n_docs):
        u = rng.random()
        if u < 0.05:
            t, lab = " ".join(rng.choice(vocab, size=int(rng.integers(40, 120)))), "lang"
        elif u < 0.10:
            t, lab = prose(int(rng.integers(5, 15))), "short"
        elif u < 0.13:
            t, lab = " ".join([prose(10)] * 5), "repetition"
        elif u < 0.16:
            t, lab = prose(int(rng.integers(30, 80))) + f" mail user{len(texts)}@example.com", "pii"
        else:
            t, lab = prose(int(rng.integers(30, 80))), "clean"
        texts.append(t)
        label.append(lab)
        group.append(len(texts) - 1 if lab == "clean" else -1)
        kind.append("orig")
    clean = [i for i, lab in enumerate(label) if lab == "clean"]
    for copy, cut, n in (("exact", 0, n_docs // 25), ("near", 5, n_docs // 16)):
        for i in rng.choice(clean, size=n, replace=False):
            texts.append(texts[i][cut:])
            label.append("clean")
            group.append(int(i))
            kind.append(copy)
    evals = [prose(int(rng.integers(60, 120))) for _ in range(max(n_docs // 100, 4))]
    for i in rng.choice(len(evals), size=len(evals) // 2, replace=False):
        texts.append(evals[i][5:])
        label.append("contaminated")
        group.append(-1)
        kind.append("orig")

    ids = rng.permutation(len(texts)).astype(np.int64)
    expected = {int(ids[i]): lab for i, lab in enumerate(label) if lab != "clean"}
    members: dict[int, list[int]] = {}
    for i, g in enumerate(group):
        if g >= 0:
            members.setdefault(g, []).append(i)
    for m in members.values():
        # exact pre-pass keeps the lowest id among identical texts; the
        # near stage then keeps the lowest id of the survivor's cluster
        same = [int(ids[i]) for i in m if kind[i] != "near"]
        near = [int(ids[i]) for i in m if kind[i] == "near"]
        survivor = min(same)
        kept = min([survivor] + near)
        for d in same + near:
            if d == kept:
                expected[d] = "keep" if sampled(d, sample_ppm) else "sampled_out"
            elif d in near or d == survivor:
                expected[d] = "near"
            else:
                expected[d] = "exact"
    order = np.argsort(ids)
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order], type=pa.string()),
        }
    )
    ev = pa.table(
        {
            "doc_id": pa.array(np.arange(len(evals), dtype=np.int64) + 10**9),
            "text": pa.array(evals, type=pa.string()),
        }
    )
    return docs, ev, expected


# ---------------------------------------------------------------------------
# digests and sizes
# ---------------------------------------------------------------------------


def _files(root: str):
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                yield os.path.join(d, n)


def digest(root: str) -> str:
    """sha256 over the relative paths and bytes of every data file under
    ``root``: a changed generator shows up as a changed input."""
    h = hashlib.sha256()
    for path in sorted(_files(root)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def dir_bytes(root: str) -> int:
    """Bytes of every file left under ``root`` (checksum sidecars included)."""
    total = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total
