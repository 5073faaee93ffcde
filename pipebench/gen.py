"""Seeded input generators for the pipeline benchmark.

Each generator takes the seed as an argument, writes its inputs into a
directory the caller owns, and writes ``planted.json`` beside them: the
counts the output checks compare against. The same seed gives
byte-identical files. Nothing here starts Spark; the media generator
only borrows the package's fixture encoders.
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENSORS = list(range(1, 22))

# Per-dataset shape, loosely after the four C-MAPSS sub-datasets:
# (operating conditions, fault modes, constant sensors). The constant
# sets differ on purpose, so the variable-sensor intersection pre-pass
# has to read every dataset to find the kept set.
CMAPSS_MIX = {
    "FD001": (1, 1, {1, 5, 6, 10, 16, 18, 19}),
    "FD002": (6, 1, {1, 2, 3, 4, 5, 18}),
    "FD003": (1, 2, {1, 5, 6, 10, 13, 16, 18, 19}),
    "FD004": (6, 2, {16, 19, 20, 21}),
}


def _write_parts(table: pa.Table, path: str, parts: int = 8) -> None:
    """Write ``table`` as ``parts`` parquet files under directory ``path``.
    One small file would be read as a single partition; several give the
    scan one task per core."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))


def _write_planted(out_dir: str, planted: dict) -> None:
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)


def _cmapss_unit(rng, n_cycles, life, n_cond, n_fault, const, profile):
    """Rows of one unit's first ``n_cycles`` cycles out of a ``life``-cycle
    run to failure, as a (n_cycles, 26) float array."""
    t = np.arange(1, n_cycles + 1, dtype=np.float64)
    frac = t / life
    cond = rng.integers(0, n_cond, n_cycles)
    fault = int(rng.integers(0, n_fault))
    out = np.empty((n_cycles, 26))
    out[:, 0] = 0  # unit_nr, filled by the caller
    out[:, 1] = t
    out[:, 2] = profile["settings"][cond, 0] + rng.normal(0, 0.002, n_cycles)
    out[:, 3] = profile["settings"][cond, 1] + rng.normal(0, 0.0002, n_cycles)
    out[:, 4] = profile["settings"][cond, 2]
    wear = frac ** 1.6
    for s in SENSORS:
        col = 4 + s
        if s in const:
            out[:, col] = profile["base"][s - 1]
            continue
        v = profile["base"][s - 1] + profile["cond"][cond, s - 1]
        v = v + profile["slope"][fault, s - 1] * wear
        out[:, col] = v + rng.normal(0, profile["noise"][s - 1], n_cycles)
    return out


def _spread(lo: int, hi: int, n: int) -> list[int]:
    """``n`` integers spread evenly over [lo, hi]."""
    return [int(v) for v in np.linspace(lo, hi, n).round()]


def _format_rows(rows: np.ndarray) -> str:
    buf = io.StringIO()
    fmt = ["%d", "%d", "%.4f", "%.4f", "%.1f"] + ["%.4f"] * 21
    np.savetxt(buf, rows, fmt=fmt, delimiter=" ")
    return buf.getvalue()


def write_cmapss_corpus(
    out_dir: str, seed: int, train_units: int, test_units: int
) -> dict:
    """FD001-FD004-style train/test/RUL text files plus ``planted.json``:
    the kept-sensor intersection, per-dataset unit counts and row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    planted = {"datasets": {}, "train_rows": 0, "test_rows": 0}
    union_const: set[int] = set()
    train_rul: list[np.ndarray] = []
    for code, (n_cond, n_fault, const) in CMAPSS_MIX.items():
        union_const |= const
        profile = {
            "settings": np.column_stack(
                [rng.uniform(0, 42, n_cond), rng.uniform(0, 0.84, n_cond),
                 rng.choice([60.0, 80.0, 100.0], n_cond)]
            ),
            "base": rng.uniform(1.0, 2400.0, 21),
            "cond": rng.normal(0, 40.0, (n_cond, 21)) * (n_cond > 1),
            "slope": rng.normal(0, 25.0, (n_fault, 21)),
            "noise": rng.uniform(0.3, 2.0, 21),
        }
        # unit lives and test cut points are fixed sets in seeded order,
        # so every seed yields the same row count
        train, test, rul = [], [], []
        for u, life in enumerate(rng.permutation(_spread(120, 280, train_units)), 1):
            rows = _cmapss_unit(rng, life, life, n_cond, n_fault, const, profile)
            rows[:, 0] = u
            train.append(rows)
            train_rul.append(life - rows[:, 1])
        cuts = rng.permutation(_spread(60, 200, test_units))
        ruls = rng.permutation(_spread(10, 150, test_units))
        for u, (cut, left) in enumerate(zip(cuts, ruls), 1):
            rows = _cmapss_unit(rng, cut, cut + left, n_cond, n_fault, const, profile)
            rows[:, 0] = u
            test.append(rows)
            rul.append(int(left))
        train_arr, test_arr = np.vstack(train), np.vstack(test)
        paths = {
            "train": os.path.join(out_dir, f"train_{code}.txt"),
            "test": os.path.join(out_dir, f"test_{code}.txt"),
            "rul": os.path.join(out_dir, f"RUL_{code}.txt"),
        }
        with open(paths["train"], "w") as f:
            f.write(_format_rows(train_arr))
        with open(paths["test"], "w") as f:
            f.write(_format_rows(test_arr))
        with open(paths["rul"], "w") as f:
            f.write("".join(f"{r}\n" for r in rul))
        planted["datasets"][code] = {
            "train_units": train_units,
            "test_units": test_units,
            "train_rows": int(len(train_arr)),
            "test_rows": int(len(test_arr)),
            **paths,
        }
        planted["train_rows"] += int(len(train_arr))
        planted["test_rows"] += int(len(test_arr))
    planted["kept_sensors"] = [f"sensor{s}" for s in SENSORS if s not in union_const]
    planted["items"] = planted["train_rows"] + planted["test_rows"]
    # RMSE of always predicting the mean RUL: the ceiling a trained
    # model has to beat by a wide margin
    planted["train_rul_std"] = float(np.std(np.concatenate(train_rul)))
    _write_planted(out_dir, planted)
    return planted


# --- document corpus --------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")


def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def _doc_words(rng, vocab, n_words: int) -> list[str]:
    out = []
    for _ in range(n_words):
        r = rng.random()
        if r < 0.3:
            out.append(_STOP[int(rng.integers(0, len(_STOP)))])
        elif r < 0.33:
            out.append(str(int(rng.integers(1, 2000))))
        else:
            # Zipf-like rank draw over the vocabulary
            out.append(vocab[min(int(rng.pareto(1.2) * 40), len(vocab) - 1)])
    return out


def _normalized_variant(rng, words: list[str]) -> list[str]:
    """Same CCNet normalization class: case, digit and punctuation
    changes only."""
    out = []
    for w in words:
        if w.isdigit():
            w = "".join(str((int(c) + 3) % 10) for c in w)
        elif rng.random() < 0.3:
            w = w.upper() if rng.random() < 0.5 else w.capitalize()
        if rng.random() < 0.1:
            w = w + rng.choice([",", ".", ";", "!"])
        out.append(w)
    return out


def _near_copy(rng, vocab, words: list[str]) -> list[str]:
    """One word substituted: Jaccard over 3-shingles stays near 0.95."""
    out = list(words)
    i = int(rng.integers(len(out) // 4, 3 * len(out) // 4))
    out[i] = vocab[int(rng.integers(0, len(vocab)))] + "x"
    return out


def write_doc_corpus(out_dir: str, seed: int, n_base: int) -> dict:
    """``docs/`` (doc_id, source, text) and ``eval.parquet``
    (doc_id, text) plus ``planted.json``. Planted cases: exact
    duplicates, normalized variants, shared boilerplate spans, junk docs,
    near-duplicate clusters and near-copies of eval docs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    spans = [_doc_words(rng, vocab, 12) for _ in range(6)]
    docs: list[list[str]] = []

    def new_doc() -> list[str]:
        words = _doc_words(rng, vocab, int(rng.integers(60, 160)))
        if rng.random() < 0.15:  # shared boilerplate span
            span = spans[int(rng.integers(0, len(spans)))]
            at = int(rng.integers(0, len(words)))
            words = words[:at] + span + words[at:]
        return words

    for _ in range(n_base):
        docs.append(new_doc())
    n_groups = max(1, n_base // 20)
    dup_groups, near_clusters = [], []
    for _ in range(n_groups):  # exact duplicate + normalized variant groups
        src = int(rng.integers(0, n_base))
        members = [src]
        for _ in range(1 + len(dup_groups) % 2):
            docs.append(list(docs[src]))
            members.append(len(docs) - 1)
        docs.append(_normalized_variant(rng, docs[src]))
        members.append(len(docs) - 1)
        dup_groups.append(members)
    for _ in range(n_groups):  # near-duplicate clusters
        base = new_doc()
        docs.append(base)
        members = [len(docs) - 1]
        for _ in range(1 + len(near_clusters) % 2):
            docs.append(_near_copy(rng, vocab, base))
            members.append(len(docs) - 1)
        near_clusters.append(members)
    junk = []
    for _ in range(n_groups):
        if rng.random() < 0.5:
            words = _doc_words(rng, vocab, int(rng.integers(3, 15)))
        else:  # long but stopword-free
            words = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(80)]
        docs.append(words)
        junk.append(len(docs) - 1)
    evals = [_doc_words(rng, vocab, int(rng.integers(80, 140))) for _ in range(n_groups)]
    contaminants = []
    for e in evals:
        docs.append(_near_copy(rng, vocab, e))
        contaminants.append(len(docs) - 1)

    # ids are a seeded permutation, so planted docs are scattered
    ids = rng.permutation(len(docs)) + 1
    sources = rng.choice(["web", "forum", "news", "code"], len(docs))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array(sources.tolist(), pa.string()),
        "text": pa.array([" ".join(w) for w in docs], pa.string()),
    })
    order = np.argsort(ids)
    _write_parts(table.take(order), os.path.join(out_dir, "docs"))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(1, len(evals) + 1), pa.int64()),
            "text": pa.array([" ".join(w) for w in evals], pa.string()),
        }),
        os.path.join(out_dir, "eval.parquet"),
    )

    def idmap(group):
        return sorted(int(ids[i]) for i in group)

    planted = {
        "docs": len(docs),
        "items": len(docs),
        "dup_groups": [idmap(g) for g in dup_groups],
        "near_clusters": [idmap(g) for g in near_clusters],
        "junk": idmap(junk),
        "contaminants": idmap(contaminants),
        "eval_docs": len(evals),
    }
    _write_planted(out_dir, planted)
    return planted


# --- media corpus -----------------------------------------------------

IMG_W, IMG_H = 72, 56  # a 9x7 grid of 8x8 blocks: the dHash sample grid


def _block_image(rng) -> np.ndarray:
    """RGB image of flat 8x8 blocks whose grey levels differ by at least
    24 between horizontal neighbours, so the 9x7 dHash grid reads the
    same bits through every lossy or palette codec."""
    levels = np.empty((7, 9), np.int64)
    for r in range(7):
        levels[r, 0] = rng.integers(40, 216)
        for c in range(1, 9):
            step = int(rng.integers(24, 60)) * (1 if rng.random() < 0.5 else -1)
            nxt = levels[r, c - 1] + step
            if not 32 <= nxt <= 224:
                nxt = levels[r, c - 1] - step
            levels[r, c] = nxt
    tint = rng.integers(-12, 13, (7, 9, 3))
    rgb = np.clip(levels[:, :, None] + tint, 0, 255).astype(np.uint8)
    return np.kron(rgb, np.ones((8, 8, 1), np.uint8))


def _dhash_bits(px: np.ndarray) -> int:
    g = px.astype(np.int64).sum(axis=2) // 3
    centers = g[4::8, 4::8]
    bits = (centers[:, 1:] > centers[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(bits.size, dtype=np.uint64)).sum())


def _envelope_audio(rng, n_windows: int = 56, win: int = 256) -> np.ndarray:
    """Mono tone whose 56 window loudnesses are either loud or quiet, so
    the energy-envelope fingerprint survives ADPCM and G.711."""
    loud = rng.random(n_windows) < 0.5
    loud[0], loud[1] = True, False
    amp = np.repeat(np.where(loud, 0.6, 0.08), win)
    t = np.arange(n_windows * win)
    freq = rng.uniform(0.02, 0.2)
    x = amp * np.sin(2 * np.pi * freq * t) + rng.normal(0, 0.005, t.size)
    return np.clip(x, -1, 1).astype(np.float32)[:, None]


def write_media_corpus(
    out_dir: str, seed: int, image_groups: int, audio_groups: int, copies: int
) -> dict:
    """``images/`` and ``audio/`` parquet (doc_id, media) plus
    ``planted.json``. Each image group is one picture encoded as baseline
    JPEG, progressive JPEG, PNG and GIF; each audio group is one clip as
    PCM16, IMA ADPCM, mu-law and A-law WAV. Every encoded member appears
    ``copies`` times under distinct ids."""
    from turbine_maintenance_etl_spark.llm.adpcm import encode_wav_adpcm
    from turbine_maintenance_etl_spark.llm.g711 import encode_wav_g711
    from turbine_maintenance_etl_spark.llm.gif import encode_gif
    from turbine_maintenance_etl_spark.llm.jpeg import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )
    from turbine_maintenance_etl_spark.llm.multimodal import encode_png, encode_wav

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    images, seen = [], set()
    while len(images) < image_groups:
        px = _block_image(rng)
        h = _dhash_bits(px)
        if h in seen:
            continue
        seen.add(h)
        flat = px.reshape(-1, 3)
        palette, index = np.unique(flat, axis=0, return_inverse=True)
        pal = np.zeros((64, 3), np.uint8)
        pal[: len(palette)] = palette
        images.append([
            encode_jpeg_baseline(px, quality=90),
            encode_jpeg_progressive(px, quality=90),
            encode_png(px),
            encode_gif([index.reshape(IMG_H, IMG_W).astype(np.uint8)], pal),
        ])
    clips = []
    for _ in range(audio_groups):
        x = _envelope_audio(rng)
        clips.append([
            encode_wav(x, 8000),
            encode_wav_adpcm(x, 8000),
            encode_wav_g711(x, 8000, ulaw=True),
            encode_wav_g711(x, 8000, ulaw=False),
        ])

    def write(groups, name):
        blobs = [b for g in groups for b in g for _ in range(copies)]
        ids = rng.permutation(len(blobs)) + 1
        order = np.argsort(ids)
        table = pa.table({
            "doc_id": pa.array(ids[order], pa.int64()),
            "media": pa.array([blobs[i] for i in order], pa.binary()),
        })
        _write_parts(table, os.path.join(out_dir, name))
        return len(blobs)

    n_img = write(images, "images")
    n_aud = write(clips, "audio")
    planted = {
        "image_groups": image_groups,
        "audio_groups": audio_groups,
        "images": n_img,
        "audio": n_aud,
        "items": n_img + n_aud,
        "copies": copies,
    }
    _write_planted(out_dir, planted)
    return planted
