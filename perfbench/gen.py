"""Seeded load generator for the perfbench workloads.

Every input is a pure function of ``(workload, seed, size)``. The generator
plants violations at seeded positions and writes, beside the data, what it
planted: the exact violation rows each engine call must return
(``expected_*.parquet``) and a summary of kinds and counts
(``planted.json``). The engine is never called here; the only engine code
used is the image codec in ``schisma_spark.image.synth``, because the
decode check regenerates reference pixels from ``image_id`` with it.

Outputs are reused per (workload, seed, size): a directory holding a
``_DONE`` marker is returned as is.

    python3 perfbench/gen.py --workload backfill --seed 7 --out .perfbench_work/data
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes per workload; BENCHMARK.json states them in each `why`
SIZES = {
    "backfill": {"rows": 16_000, "parts": 16},
    "ingest": {"base_parts": 16, "batch_rows": 4_000, "max_batches": 48},
    "events_json": {"rows": 8_000, "delta_share": 0.03},
}

FMTS = ("raw", "bmp", "png")
WORDS = (
    "amber bridge canyon dune ember flint grove harbor inlet juniper "
    "kestrel lagoon meadow nimbus orchid prairie quartz ridge summit "
    "thicket umber vale willow zephyr basin crest delta fjord glade"
).split()
PAYLOAD_BYTES = 256  # ingest payload: random bytes the stats path never reads
CLEAN_PART = 3       # one partition without planted violations (pass verdict)
KIND_RATE = 0.002    # share of rows per planted kind
DUP_RATE = 0.001     # share of rows per duplicated key, in pairs

#: kind -> row-level stats violations (code, where) it causes; webp also
#: fails the fmt FK check, which is not row-level
STATS_KINDS = {
    "null_id": [("missing key", "image_id")],
    "bad_id": [("invalid", "image_id")],
    "neg_w": [("invalid", "w")],
    "big_h": [("invalid", "h")],
    "webp": [("invalid", "fmt")],
    "null_caption": [("missing key", "caption")],
}
#: kinds that only a payload read can see (tables with encoded images)
PAYLOAD_KINDS = {
    "truncated": [],
    "corrupt_pixels": [],
    "size_mismatch": [],
    "caption_mutated": [],
    "caption_null": [("missing key", "caption")],
}


def _rng(workload: str, seed: int) -> np.random.Generator:
    tag = sum(ord(c) * 131 ** i for i, c in enumerate(workload)) % 2**32
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for j, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{j:03d}.parquet"))


def _write_hive(table: pa.Table, path: str, part_col: str = "part") -> None:
    parts = table.column(part_col).to_numpy()
    body = table.drop_columns([part_col])
    for p in np.unique(parts):
        _write(body.filter(pa.array(parts == p)), os.path.join(path, f"{part_col}={p}"))


# -- image tables ------------------------------------------------------------

def _decode_class(kind: str | None, fmt: str) -> str | None:
    """What the decode pass must report for a planted row: 'decode' (the
    payload does not decode), 'size' (declared w/h disagree with the
    decoded image) or 'pixels' (pixels differ from the reference that
    ``image_id`` regenerates, or there is no id to regenerate it from)."""
    if kind in ("null_id", "bad_id", "dup_id", "corrupt_pixels"):
        return "pixels"
    if kind in ("neg_w", "big_h"):
        return "decode" if fmt == "raw" else "size"   # raw has no header
    if kind in ("webp", "truncated"):
        return "decode"
    if kind == "size_mismatch":
        return "size"
    return None


def _pick_kinds(rng, part: np.ndarray, kinds: list[str]):
    """Disjoint planted rows outside CLEAN_PART: KIND_RATE of rows per kind,
    then duplicated image_id / phash pairs, each pair inside one partition
    (run_resumable checks uniqueness within the partitions it processes).
    Returns {row: kind} and {duplicate row: the row whose key it copies}."""
    eligible = np.flatnonzero(part != CLEAN_PART)
    n_kind = max(1, int(len(eligible) * KIND_RATE))
    n_dup = max(1, int(len(eligible) * DUP_RATE))
    order = rng.permutation(eligible)
    kind_of = {}
    for j, kind in enumerate(kinds):
        for r in order[j * n_kind: (j + 1) * n_kind]:
            kind_of[int(r)] = kind
    pending, pairs = {}, []
    for r in order[len(kinds) * n_kind:]:
        p = int(part[r])
        if p in pending:
            pairs.append((pending.pop(p), int(r)))
            if len(pairs) == 2 * n_dup:
                break
        else:
            pending[p] = int(r)
    for j, (src, dst) in enumerate(pairs):
        key = "id" if j < n_dup else "phash"
        kind_of[src], kind_of[dst] = f"dup_{key}_src", f"dup_{key}"
    return kind_of, {dst: src for src, dst in pairs}


def image_table(rng, seed: int, part: np.ndarray, encoded: bool):
    """An images table over partitions ``part`` (one value per row) with
    planted violations. ``encoded``: payloads are real images whose pixels
    are ``gen_pixels(image_id, w, h)`` and the payload kinds are planted
    too; otherwise payloads are random bytes.

    Returns (table, reference captions, expected stats violations rows,
    expected decode rows, per-kind counts, verdict rows)."""
    from schisma_spark.image.synth import encode_image, gen_pixels

    n = len(part)
    ids = [f"img-{seed}-{k:09d}" for k in range(n)]
    w = (16 + 8 * rng.integers(0, 3, n)).tolist()
    h = (16 + 8 * rng.integers(0, 3, n)).tolist()
    fmt = [FMTS[k] for k in rng.integers(0, 3, n)]
    caption = [" ".join(WORDS[j] for j in row)
               for row in rng.integers(0, len(WORDS), size=(n, 6))]
    ref_caption = list(caption)
    # an affine bijection of the row index: clean rows never collide
    phash = ((np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
              + np.uint64(seed)) & np.uint64(2**63 - 1)).astype(np.int64)
    kinds = list(STATS_KINDS) + (list(PAYLOAD_KINDS) if encoded else [])
    kind_of, src_of = _pick_kinds(rng, part, kinds)
    payload = None
    if encoded:
        payload = []
        for r in range(n):
            kind = kind_of.get(r)
            if kind == "size_mismatch" and fmt[r] == "raw":
                fmt[r] = "bmp"          # a declared size needs a header to disagree with
            src = ids[r] + ":corrupt" if kind == "corrupt_pixels" else ids[r]
            data = encode_image(gen_pixels(src, w[r], h[r]), fmt[r])
            payload.append(data[: max(4, len(data) // 3)] if kind == "truncated" else data)
    viols, decode, counts, row_level = [], [], {}, {}
    for r, kind in sorted(kind_of.items()):
        if kind.endswith("_src"):
            continue
        counts[kind] = counts.get(kind, 0) + 1
        orig_fmt = fmt[r]
        if kind == "null_id":
            ids[r] = None
        elif kind == "bad_id":
            ids[r] = "bad-" + ids[r]
        elif kind == "neg_w":
            w[r] = -w[r]
        elif kind == "big_h":
            h[r] = 5000
        elif kind == "webp":
            fmt[r] = "webp"
        elif kind in ("null_caption", "caption_null"):
            caption[r] = None
        elif kind == "caption_mutated":
            caption[r] += " MUTATED"
        elif kind == "size_mismatch":
            w[r] += 8
        elif kind == "dup_id":
            ids[r] = ids[src_of[r]]
        elif kind == "dup_phash":
            phash[r] = phash[src_of[r]]
        for code, where in STATS_KINDS.get(kind, PAYLOAD_KINDS.get(kind, [])):
            viols.append((ids[r], int(part[r]), code, where))
            row_level[int(part[r])] = row_level.get(int(part[r]), 0) + 1
        if kind == "webp":
            viols.append((ids[r], int(part[r]), "no match", "fmt"))
        cls = _decode_class(kind, orig_fmt)
        if encoded and cls:
            decode.append((ids[r], cls))
    for key in ("id", "phash"):
        for r, kind in kind_of.items():
            if kind in (f"dup_{key}", f"dup_{key}_src"):
                viols.append((ids[r], int(part[r]), "invalid",
                              "image_id" if key == "id" else "phash"))
    if payload is None:
        offsets = np.arange(0, (n + 1) * PAYLOAD_BYTES, PAYLOAD_BYTES, dtype=np.int32)
        payload = pa.BinaryArray.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()),
                             pa.py_buffer(rng.bytes(n * PAYLOAD_BYTES))])
    table = pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": payload if isinstance(payload, pa.Array) else pa.array(payload, pa.binary()),
        "w": pa.array(w, pa.int32()), "h": pa.array(h, pa.int32()),
        "fmt": pa.array(fmt, pa.string()), "caption": pa.array(caption, pa.string()),
        "phash": pa.array(phash, pa.int64()), "part": pa.array(part, pa.int32()),
    })
    ref = pa.table({"image_id": pa.array([f"img-{seed}-{k:09d}" for k in range(n)], pa.string()),
                    "caption": pa.array(ref_caption, pa.string())})
    # every row-level kind causes exactly one violation per row, so
    # n_violations == n_bad_rows per partition
    verdicts = [{"part": int(p), "n_rows": int((part == p).sum()),
                 "n_violations": row_level.get(int(p), 0),
                 "n_bad_rows": row_level.get(int(p), 0),
                 "verdict": "fail" if row_level.get(int(p), 0) else "pass"}
                for p in np.unique(part)]
    return table, ref, viols, decode, counts, verdicts


def _write_expected(out: str, viols: list, verdicts: list) -> None:
    cols = list(zip(*viols)) or [(), (), (), ()]
    _write(pa.table({"image_id": pa.array(cols[0], pa.string()),
                     "part": pa.array(cols[1], pa.int32()),
                     "code": pa.array(cols[2], pa.string()),
                     "where": pa.array(cols[3], pa.string())}),
           os.path.join(out, "expected_violations"))
    _write(pa.Table.from_pylist(verdicts), os.path.join(out, "expected_verdicts"))
    # format dimension for the FK check; webp is deliberately absent
    _write(pa.table({"fmt": list(FMTS), "lossy": [f == "png" for f in FMTS]}),
           os.path.join(out, "dim_fmt"))


def gen_backfill(rng, seed: int, out: str, rows: int, parts: int) -> dict:
    """One images table with encoded payloads: the stats path and the
    decode pass both have planted violations to find."""
    part = (np.arange(rows) % parts).astype(np.int32)
    table, ref, viols, decode, counts, verdicts = image_table(rng, seed, part, encoded=True)
    _write_hive(table, os.path.join(out, "images"))
    _write(ref, os.path.join(out, "ref"), files=4)
    _write_expected(out, viols, verdicts)
    cols = list(zip(*decode)) or [(), ()]
    _write(pa.table({"image_id": pa.array(cols[0], pa.string()),
                     "kind": pa.array(cols[1], pa.string())}),
           os.path.join(out, "expected_decode"))
    return {"rows": rows, "partitions": parts, "planted": counts,
            "expected_violations": len(viols), "expected_decode": len(decode)}


def gen_ingest(rng, seed: int, out: str, base_parts: int, batch_rows: int,
               max_batches: int) -> dict:
    """A base table of ``base_parts`` partitions plus ``max_batches`` batch
    partitions, one directory each, that the benchmark lands one at a
    time. Every partition holds ``batch_rows`` rows."""
    part = np.repeat(np.arange(base_parts + max_batches, dtype=np.int32), batch_rows)
    table, _ref, viols, _dec, counts, verdicts = image_table(rng, seed, part, encoded=False)
    _write_hive(table.filter(pa.array(part < base_parts)), os.path.join(out, "base"))
    _write_hive(table.filter(pa.array(part >= base_parts)), os.path.join(out, "batches"))
    _write_expected(out, viols, verdicts)
    return {"base_partitions": base_parts, "batch_rows": batch_rows,
            "batches": max_batches, "planted": counts,
            "expected_violations": len(viols)}


# -- events with JSON payloads -----------------------------------------------

#: kind -> (payload template, validate_json violations, validate_variant
#: violations, conform_json output). Templates take K (float), N (name),
#: A (float), T (tag list JSON), X (regex-key members JSON). Violations are
#: (code, where); json_validate runs EVENT_SCHEMA_FLAT, the others the
#: nested EVENT_SCHEMA (see perfbench/workloads.py).
EVENT_KINDS = {
    "flat": ('{{"k": {K}, "name": "{N}"}}', [], [],
             '{{"k":{K},"name":"{N}"}}'),
    "regex_keys": ('{{"k": {K}, "name": "{N}", {X}}}', [], [],
                   '{{"k":{K},"name":"{N}",{Xc}}}'),
    "tags": ('{{"k": {K}, "name": "{N}", "tags": {T}}}',
             [("unexpected key", "tags")], [],
             '{{"k":{K},"name":"{N}","tags":{Tc}}}'),
    "nested": ('{{"k": {K}, "name": "{N}", "nested": {{"a": {A}, "b": "{N}"}}}}',
               [("unexpected key", "nested")], [],
               '{{"k":{K},"name":"{N}","nested":{{"a":{A},"b":"{N}"}}}}'),
    "type_error": ('{{"k": "bad", "name": "{N}"}}', [("no match", "k")],
                   [("no match", "k")], '{{"k":-1.0,"name":"{N}"}}'),
    "missing_k": ('{{"name": "{N}"}}', [("missing key", "k")],
                  [("missing key", "k")], '{{"k":-1.0,"name":"{N}"}}'),
    "junk_key": ('{{"k": {K}, "name": "{N}", "zz": 1}}',
                 [("unexpected key", "zz")], [("unexpected key", "zz")],
                 '{{"k":{K},"name":"{N}"}}'),
    "malformed": ('{{broken {N}', [("invalid", None)], [("invalid", None)],
                  '{{"k":-1.0,"name":"anon"}}'),
    "null_payload": (None, [], [], None),
    "null_k": ('{{"k": null, "name": "{N}"}}', [("missing key", "k")],
               [("no match", "k")], '{{"k":0.0,"name":"{N}"}}'),
    "nested_bad": ('{{"k": {K}, "name": "{N}", "nested": {{"a": "no"}}}}',
                   [("unexpected key", "nested")],
                   [("no match", "nested.a"), ("missing key", "nested.b")],
                   '{{"k":{K},"name":"{N}","nested":{{"a":0.0,"b":"x"}}}}'),
    "nested_junk": ('{{"k": {K}, "name": "{N}", "nested": {{"a": {A}, "junk": true}}}}',
                    [("unexpected key", "nested")],
                    [("missing key", "nested.b"), ("unexpected key", "nested.junk")],
                    '{{"k":{K},"name":"{N}","nested":{{"a":{A},"b":"x"}}}}'),
    "tag_type": ('{{"k": {K}, "name": "{N}", "tags": ["u", 3]}}',
                 [("unexpected key", "tags")], [("no match", "tags.1")],
                 '{{"k":{K},"name":"{N}","tags":["u","3"]}}'),
}
#: share of rows per kind; clean kinds dominate as in a real event stream
EVENT_MIX = {"flat": 0.40, "regex_keys": 0.15, "tags": 0.12, "nested": 0.12,
             "type_error": 0.03, "missing_k": 0.03, "junk_key": 0.03,
             "malformed": 0.02, "null_payload": 0.02, "null_k": 0.02,
             "nested_bad": 0.02, "nested_junk": 0.02, "tag_type": 0.02}


def _event(rng, kind: str, eid: int):
    tpl, jv, vv, conf = EVENT_KINDS[kind]
    if tpl is None:
        return None, jv, vv, None
    k = float(rng.integers(-4000, 4000)) / 4   # exact repr in Python and Java
    a = float(rng.integers(0, 400)) / 4
    name = WORDS[rng.integers(len(WORDS))] + str(eid % 97)
    tags = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(1, 4))]
    xk = [(f"x_{WORDS[j]}{m}", WORDS[(j + 7) % len(WORDS)])
          for m, j in enumerate(rng.integers(0, len(WORDS), rng.integers(1, 4)))]
    fill = {
        "K": repr(k), "N": name, "A": repr(a),
        "T": json.dumps(tags), "Tc": json.dumps(tags, separators=(",", ":")),
        "X": ", ".join(f'"{x}": "{v}"' for x, v in xk),
        "Xc": ",".join(f'"{x}":"{v}"' for x, v in xk),
    }
    return tpl.format(**fill), jv, vv, conf.format(**fill)


def _events(rng, ids, kinds) -> list[tuple]:
    return [(int(e), kd, *_event(rng, kd, int(e))) for e, kd in zip(ids, kinds)]


def _events_tables(rows: list[tuple], out: str, tag: str, files: int) -> None:
    _write(pa.table({"event_id": pa.array([r[0] for r in rows], pa.int64()),
                     "payload": pa.array([r[2] for r in rows], pa.string())}),
           os.path.join(out, tag), files=files)
    for name, col in (("json", 3), ("variant", 4)):
        flat = [(r[0], c, w) for r in rows for c, w in r[col]]
        _write(pa.table({"event_id": pa.array([f[0] for f in flat], pa.int64()),
                         "code": pa.array([f[1] for f in flat], pa.string()),
                         "where": pa.array([f[2] for f in flat], pa.string())}),
               os.path.join(out, f"expected_{name}_{tag}"))
    _write(pa.table({"event_id": pa.array([r[0] for r in rows], pa.int64()),
                     "payload": pa.array([r[5] for r in rows], pa.string())}),
           os.path.join(out, f"expected_conform_{tag}"))


def gen_events_json(rng, seed: int, out: str, rows: int, delta_share: float) -> dict:
    """Snapshot v1 of ``rows`` events and snapshot v2 where a
    ``delta_share`` of rows changed: a third removed, a third re-drawn
    payloads, a third added under fresh ids."""
    names = list(EVENT_MIX)
    p = np.array([EVENT_MIX[k] for k in names])
    kinds = [names[j] for j in rng.choice(len(names), size=rows, p=p / p.sum())]
    v1 = _events(rng, np.arange(rows), kinds)
    n_each = max(1, int(rows * delta_share / 3))
    pick = rng.choice(rows, size=2 * n_each, replace=False)
    removed, changed = set(pick[:n_each].tolist()), pick[n_each:]
    new_kinds = [names[j] for j in rng.choice(len(names), size=2 * n_each, p=p / p.sum())]
    redrawn = dict(zip(changed.tolist(), _events(rng, changed, new_kinds[:n_each])))
    added = _events(rng, np.arange(rows, rows + n_each), new_kinds[n_each:])
    v2 = [redrawn.get(r[0], r) for r in v1 if r[0] not in removed] + added
    _events_tables(v1, out, "v1", files=8)
    _events_tables(v2, out, "v2", files=8)
    return {"rows": rows, "v2_rows": len(v2), "removed": n_each,
            "changed": n_each, "added": n_each,
            "planted": {k: kinds.count(k) for k in names},
            "planted_v2": {k: sum(r[1] == k for r in v2) for k in names}}


GENERATORS = {"backfill": gen_backfill, "ingest": gen_ingest,
              "events_json": gen_events_json}


def generate(workload: str, seed: int, out_root: str) -> str:
    """Directory holding the inputs for (workload, seed, size); generated
    on first use, reused afterwards."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(out_root, f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    record = GENERATORS[workload](_rng(workload, seed), seed, out, **size)
    record.update(workload=workload, seed=seed)
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for generated inputs")
    a = ap.parse_args(argv)
    print(generate(a.workload, a.seed, a.out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
