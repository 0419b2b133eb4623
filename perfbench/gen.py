"""Seeded benchmark inputs, cached on disk per workload, seed and size.

Every file here is a pure function of (workload, seed, size): the same
seed gives byte-identical tables, another seed gives other tables.  The
program under test only ever receives the parquet files written here;
the planted truth (which pairs must end up clustered, which near-miss
control pairs must not) stays on the benchmark's side in
``truth.json``.

Layout of one cache entry ``<cache>/<workload>-s<seed>-n<size>/``:

images_batch   base/part-0.parquet     dude_spark.fixtures rows + controls
               append/part-0.parquet   ~5% fresh ids, half near-dups of base
               truth.json              {"pairs": [...], "controls": [...]}
images_stream  epochs/epoch_NNN.parquet  one flat file per epoch (0 = base)
               truth.json

Entries are built in a temporary directory and renamed into place, so
an interrupted build never leaves a half-written entry behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dude_spark.detectors.simhash import _token_hashes, simhash64
from dude_spark.fixtures import IMAGES_COLUMNS, VOCAB, expected_pairs, generate_pdf
from dude_spark.imagecodec import encode, phash64

IMAGES_BATCH_N = 2000
APPEND_FRACTION = 0.05
STREAM_BASE_N = 400
STREAM_BATCH_N = 200
STREAM_EPOCHS = 2  # timed epochs after the base

# the detector thresholds the near-miss controls sit just below: the
# program's defaults (MinHashConfig, SuffixConfig, SimHashConfig) when
# this benchmark was defined, pinned so that a looser default or verify
# shows as false pairs
SHINGLE_K, JACCARD_FLOOR = 6, 0.55
MIN_MATCH_LEN = 32
PHASH_RADIUS, CAPTION_RADIUS = 3, 1

# fixture populations whose truth groups are duplicates for the
# four-detector pipeline (caption detectors link `same_caption` and
# `collision` rows, whose captions are identical or one character apart)
PLANTED_KINDS = {
    "exact", "near_caption", "near_image", "substring",
    "collision", "same_caption", "hot", "unicode",
}

_ARROW_SCHEMA = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])


def _rng(seed: int, *tags) -> np.random.RandomState:
    blob = ("|".join(str(t) for t in tags) + f"|{seed}").encode()
    return np.random.RandomState(
        int.from_bytes(hashlib.sha256(blob).digest()[:4], "big")
    )


def _words(rs: np.random.RandomState, n: int) -> list[str]:
    return [str(w) for w in rs.choice(VOCAB, size=n)]


def near_caption(caption: str, rs: np.random.RandomState) -> str:
    """The fixture's near-duplicate edit: swap the first two words and
    replace one word (char-shingle Jaccard stays above the verify
    threshold)."""
    words = caption.split()
    words[int(rs.randint(0, len(words)))] = str(rs.choice(VOCAB))
    words[0], words[1] = words[1], words[0]
    return " ".join(words)


def _pixels(rs: np.random.RandomState, size: int = 16) -> np.ndarray:
    return rs.randint(0, 256, (size, size, 3), dtype=np.uint8)


def _image_row(image_id: str, caption: str, rs: np.random.RandomState,
               pix: np.ndarray | None = None) -> dict:
    pix = _pixels(rs) if pix is None else pix
    size = pix.shape[0]
    fmt = ("png", "jpeg", "gif")[int(rs.randint(0, 3))]
    return {
        "image_id": image_id, "bytes": encode(pix, fmt), "w": size, "h": size,
        "fmt": fmt, "caption": caption, "phash": phash64(pix),
    }


def _jaccard(a: str, b: str, k: int) -> float:
    """Jaccard of the character k-shingle sets (the minhash verify's
    similarity)."""
    sa = {a[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b[i:i + k] for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def _shares(a: str, b: str, n: int) -> bool:
    """True when ``a`` and ``b`` share a substring of ``n`` characters."""
    grams = {a[i:i + n] for i in range(len(a) - n + 1)}
    return any(b[i:i + n] in grams for i in range(len(b) - n + 1))


def _hamming(x: int, y: int) -> int:
    return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")


def _caption_simhash(caption: str) -> int:
    return simhash64(_token_hashes(caption))


# each control pair sits just below one detector's threshold and far
# from the others: ``jaccard`` captions of shingle Jaccard
# [floor - 0.15, floor - 0.05) with no min_match_len-char run in
# common; ``substring`` captions sharing exactly min_match_len - 1
# characters; ``phash`` images at Hamming distance radius+1..radius+3
# under unrelated captions.  All other features stay unrelated.
CONTROL_KINDS = ("jaccard", "substring", "phash")


def _apart(a: str, b: str) -> bool:
    """No detector other than the one a control aims at may link the
    two captions."""
    return (
        _jaccard(a, b, SHINGLE_K) < JACCARD_FLOOR
        and not _shares(a, b, MIN_MATCH_LEN)
        and _hamming(_caption_simhash(a), _caption_simhash(b)) > CAPTION_RADIUS
    )


def _control_captions(rs: np.random.RandomState, kind: str, ids: tuple[str, str]):
    floor, L = JACCARD_FLOOR, MIN_MATCH_LEN
    for _ in range(1000):
        a = _words(rs, 12)
        if kind == "jaccard":
            b = list(a)
            for pos in rs.choice(12, size=int(rs.randint(2, 6)), replace=False):
                b[pos] = str(rs.choice(VOCAB))
            ca, cb = " ".join(a), " ".join(b)
            ok = floor - 0.15 <= _jaccard(ca, cb, SHINGLE_K) < floor - 0.05
        elif kind == "substring":
            # the run starts with a space and may end mid-word; the
            # characters around it differ between the two captions
            run = (" " + " ".join(_words(rs, 8)))[: L - 1]
            ca = " ".join(a[:3]) + run + " ".join(a[3:6])
            cb = " ".join(_words(rs, 3)) + run + " ".join(_words(rs, 3))
            ok = _shares(ca, cb, L - 1)
        else:
            ca, cb = " ".join(a), " ".join(_words(rs, 12))
            ok = True
        ca, cb = f"{ca} #{ids[0]}", f"{cb} #{ids[1]}"
        if ok and _apart(ca, cb):
            return ca, cb
    raise RuntimeError(f"no {kind} control caption pair found")


def _near_phash(pix: np.ndarray, rs: np.random.RandomState) -> np.ndarray:
    """A copy of ``pix`` whose average-hash lies radius+1..radius+3 bits
    away: push a few hash cells across the image mean."""
    r = PHASH_RADIUS
    h0 = phash64(pix)
    cell = pix.shape[0] // 8
    for _ in range(1000):
        out = pix.copy()
        for c in rs.choice(64, size=int(rs.randint(r + 1, r + 4)), replace=False):
            y, x = divmod(int(c), 8)
            patch = out[y * cell:(y + 1) * cell, x * cell:(x + 1) * cell]
            patch[...] = 0 if (h0 >> int(c)) & 1 else 255
        if r < _hamming(h0, phash64(out)) <= r + 3:
            return out
    raise RuntimeError("no near-miss image found")


def _control_pair(rs: np.random.RandomState, ids: tuple[str, str], kind: str) -> list[dict]:
    """Near-miss pair of ``kind`` (see CONTROL_KINDS): no detector may
    group it."""
    ca, cb = _control_captions(rs, kind, ids)
    pa_, pb = _pixels(rs), _pixels(rs)
    if kind == "phash":
        pb = _near_phash(pa_, rs)
    return [_image_row(ids[0], ca, rs, pa_), _image_row(ids[1], cb, rs, pb)]


def _write(rows: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(
        rows[IMAGES_COLUMNS].reset_index(drop=True), schema=_ARROW_SCHEMA,
        preserve_index=False,
    )
    pq.write_table(table, path)


def _pairs(pairs) -> list[list[str]]:
    return sorted([sorted(p) for p in pairs])


def build_images_batch(out: str, seed: int, n: int) -> None:
    base = generate_pdf(n, seed=seed)
    truth = set(expected_pairs(base, PLANTED_KINDS))
    rs = _rng(seed, "images_batch")
    controls = []
    extra = []
    for k in range(max(len(CONTROL_KINDS), n // 100)):
        ids = (f"ctl_{k:05d}_a", f"ctl_{k:05d}_b")
        extra += _control_pair(rs, ids, CONTROL_KINDS[k % len(CONTROL_KINDS)])
        controls.append(ids)
    base = pd.concat([base[IMAGES_COLUMNS], pd.DataFrame(extra)], ignore_index=True)

    # append slice: fresh ids; a quarter byte-identical copies of base
    # uniques, a quarter caption near-dups of base uniques (fresh
    # pixels), the rest new uniques
    m = max(4, int(n * APPEND_FRACTION))
    uniques = base[base.image_id.str.startswith("img_unique_")]
    picks = uniques.iloc[rs.permutation(len(uniques))[: m // 2]]
    app = []
    for k, (_, src) in enumerate(picks.iterrows()):
        app_id = f"app_{k:05d}"
        if k % 2 == 0:
            row = src.to_dict()
            row["image_id"] = app_id
        else:
            row = _image_row(app_id, near_caption(src.caption, rs), rs)
        app.append(row)
        truth.add(tuple(sorted((src.image_id, app_id))))
    for k in range(len(app), m):
        app.append(_image_row(f"app_{k:05d}", " ".join(_words(rs, 12)) + f" #app{k}", rs))

    _write(base, os.path.join(out, "base", "part-0.parquet"))
    _write(pd.DataFrame(app), os.path.join(out, "append", "part-0.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"rows": len(base), "append_rows": m,
                   "pairs": _pairs(truth), "controls": _pairs(controls)}, f)


def build_images_stream(out: str, seed: int, n: int) -> None:
    """Epoch 0 holds ``STREAM_BASE_N`` rows, every later epoch ``n``.
    Each epoch mixes uniques (60%), within-epoch near-dup pairs (20%),
    near-dups of earlier epochs' uniques (15%) and near-miss control
    pairs (the rest)."""
    rs = _rng(seed, "images_stream")
    truth, controls = set(), []
    earlier: list[tuple[str, str]] = []  # (id, caption) of landed uniques
    for e in range(STREAM_EPOCHS + 1):
        size = STREAM_BASE_N if e == 0 else n
        rows: list[dict] = []
        n_pairs = size // 10
        n_cross = 0 if e == 0 else (size * 15) // 100
        n_ctl = size // 40
        n_uniq = size - 2 * n_pairs - n_cross - 2 * n_ctl
        fresh = []
        for k in range(n_uniq):
            rid = f"e{e:03d}_u{k:05d}"
            cap = " ".join(_words(rs, 12)) + f" #{rid}"
            rows.append(_image_row(rid, cap, rs))
            fresh.append((rid, cap))
        for k in range(n_pairs):
            a, b = f"e{e:03d}_p{k:05d}_a", f"e{e:03d}_p{k:05d}_b"
            cap = " ".join(_words(rs, 12)) + f" #{a}"
            rows += [_image_row(a, cap, rs), _image_row(b, near_caption(cap, rs), rs)]
            truth.add((a, b))
        for k in range(n_cross):
            src_id, src_cap = earlier[int(rs.randint(0, len(earlier)))]
            rid = f"e{e:03d}_x{k:05d}"
            rows.append(_image_row(rid, near_caption(src_cap, rs), rs))
            truth.add(tuple(sorted((src_id, rid))))
        for k in range(n_ctl):
            ids = (f"e{e:03d}_c{k:05d}_a", f"e{e:03d}_c{k:05d}_b")
            rows += _control_pair(rs, ids, CONTROL_KINDS[k % len(CONTROL_KINDS)])
            controls.append(ids)
        earlier += fresh
        order = rs.permutation(len(rows))
        _write(pd.DataFrame([rows[i] for i in order]),
               os.path.join(out, "epochs", f"epoch_{e:03d}.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"pairs": _pairs(truth), "controls": _pairs(controls)}, f)


GENERATORS = {
    "images_batch": (build_images_batch, IMAGES_BATCH_N),
    "images_stream": (build_images_stream, STREAM_BATCH_N),
}


def ensure_inputs(cache: str, workload: str, seed: int) -> str:
    """Directory holding ``workload``'s inputs for ``seed``, built on
    first use and reused afterwards."""
    build, size = GENERATORS[workload]
    final = os.path.join(cache, f"{workload}-s{seed}-n{size}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{workload}-", dir=cache)
    try:
        build(tmp, seed, size)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def load_truth(inputs: str) -> dict:
    with open(os.path.join(inputs, "truth.json")) as f:
        return json.load(f)
