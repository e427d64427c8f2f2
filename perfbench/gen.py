"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, spec)``: the same seed writes the
same rows. Inputs are written to parquet once, during set-up, with a fixed
file count, so the timed operations only ever read parquet; no lazy
generation plan runs inside a timed region. The generator is numpy and
Arrow only: no Spark plan, no ``Window``, no sort.

* Uniform keys come from a bijection on 63-bit counters, shifted left by
  one. Members (the build set) have bit 0 clear and non-member probes have
  it set, so a non-member can never equal a member and a probe's membership
  can be read off its own low bit without a join.
* Transcripts follow the repo's own transcript fixture (FIXTURES.md F1,
  ``sparkfuse/synth.py``) in the input-hint schema ``(conv_id, turn_idx,
  role, text, tool, ts)``: conversations drawn per turn from Zipf(1.2), so
  a few are hot; 7% of texts from a 50-text boilerplate pool; every other
  text unique. In the probe table a known share of turns copies the text
  of a random build turn; the rest get fresh texts that occur nowhere in
  the build table.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_M63 = np.uint64((1 << 63) - 1)
_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)


def mix63(x: np.ndarray) -> np.ndarray:
    """A bijection on [0, 2^63): odd multiplies and xor-shifts mod 2^63."""
    x = (x.astype(np.uint64) * _C1) & _M63
    x ^= x >> np.uint64(31)
    x = (x * _C2) & _M63
    x ^= x >> np.uint64(29)
    x = (x * _C3) & _M63
    x ^= x >> np.uint64(32)
    return x


def stream(seed: int, name: str, idx: np.ndarray) -> np.ndarray:
    """Hash values of ``idx`` in the named stream of ``seed``."""
    salt = int.from_bytes(name.encode()[:7].ljust(7, b"\0"), "little")
    off = mix63(mix63(np.array([seed], dtype=np.uint64)) ^ np.uint64(salt))[0]
    return mix63((idx.astype(np.uint64) + off) & _M63)


def member_key(seed: int, idx: np.ndarray) -> np.ndarray:
    """The ``idx``-th member key (int64 carrier, bit 0 clear). Distinct for
    distinct ``idx`` because ``mix63`` is a bijection."""
    return (stream(seed, "member", idx) << np.uint64(1)).view(np.int64)


def nonmember_key(seed: int, idx: np.ndarray) -> np.ndarray:
    """The ``idx``-th non-member probe key (bit 0 set: never a member)."""
    return ((stream(seed, "nonmem", idx) << np.uint64(1)) | np.uint64(1)).view(np.int64)


@dataclass(frozen=True)
class KeySpec:
    n_keys: int
    n_probes: int
    member_every: int  # probe j is a member iff j % member_every == 0
    files: int = 4


def probe_keys(seed: int, spec: KeySpec, lo: int, hi: int) -> np.ndarray:
    """Probes ``lo..hi-1``; a member probe picks a member index by hash."""
    j = np.arange(lo, hi, dtype=np.uint64)
    out = nonmember_key(seed, j)
    sel = (j % np.uint64(spec.member_every)) == 0
    out[sel] = member_key(seed, stream(seed, "pick", j[sel]) % np.uint64(spec.n_keys))
    return out


def _split(n: int, files: int):
    b = np.linspace(0, n, files + 1).astype(np.int64)
    return list(zip(b[:-1], b[1:]))


def _write_part(table: pa.Table, path: str, part: int) -> None:
    pq.write_table(table, os.path.join(path, f"part-{part:03d}.parquet"),
                   compression="none")


def _parallel(fn, parts: list, threads: int) -> list:
    """Run ``fn(part_index, part)`` on a thread pool. numpy and Arrow
    release the interpreter lock in their kernels and in the parquet
    writer, so threads overlap the work."""
    with ThreadPoolExecutor(max_workers=threads) as ex:
        return list(ex.map(fn, range(len(parts)), parts))


def write_keys(seed: int, spec: KeySpec, root: str, threads: int) -> dict:
    """Write ``root/keys`` (the build set) and ``root/probes``, one parquet
    file per part. Returns the row count and the key arrays."""
    paths = [os.path.join(root, "keys"), os.path.join(root, "probes")]
    for p in paths:
        os.makedirs(p)

    def part(i, bounds):
        (ka, kb), (pa_, pb) = bounds
        keys = member_key(seed, np.arange(ka, kb))
        probes = probe_keys(seed, spec, pa_, pb)
        _write_part(pa.table({"key": keys}), paths[0], i)
        _write_part(pa.table({"key": probes}), paths[1], i)
        return keys, probes

    out = _parallel(part, list(zip(_split(spec.n_keys, spec.files),
                                   _split(spec.n_probes, spec.files))), threads)
    return {
        "rows": spec.n_keys + spec.n_probes,
        "keys": np.concatenate([k for k, _ in out]),
        "probes": np.concatenate([p for _, p in out]),
    }


def semi_join_count(probe, build) -> int:
    """Probe rows whose value occurs in ``build``: a plain hash semi-join in
    Arrow, independent of the program under test."""
    if isinstance(build, np.ndarray):
        build = pa.array(build)
    return pc.sum(pc.is_in(probe, value_set=build)).as_py() or 0


# ---------------------------------------------------------------------------
# transcripts (FIXTURES.md F1)
# ---------------------------------------------------------------------------

_ROLES = pa.array(["user", "assistant", "tool"])
_TOOLS = pa.array(["search", "python", "browser", "sql", "bash", "editor", "mail", "calc"])
_B36 = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z


@dataclass(frozen=True)
class TranscriptSpec:
    """The repo's transcript fixture (FIXTURES.md F1, ``sparkfuse/synth.py``):
    ``n_turns // 20`` conversations drawn per turn from Zipf(s=1.2), so a
    few conversations are hot; 7% of texts are exact duplicates from a
    50-text boilerplate pool; every other text is unique, a template over
    role, turn and conversation plus eight seeded base-36 tokens."""

    n_turns: int                 # rows per table
    zipf_s: float = 1.2
    turns_per_conv: int = 20
    dup_per_mille: int = 70      # turns drawn from the boilerplate pool
    pool: int = 50
    tokens: int = 8
    member_per_mille: int = 200  # probe turns copying a build-table text
    files: int = 8


def _unit(seed: int, name: str, idx: np.ndarray) -> np.ndarray:
    """Uniform floats in [0, 1), one per ``idx``."""
    return (stream(seed, name, idx) >> np.uint64(10)).astype(np.float64) / float(1 << 53)


def _turn_layout(seed: int, spec: TranscriptSpec, name: str):
    """(conversation, turn index, role index) per row. Each turn draws its
    conversation from Zipf(s) over ``n_turns // turns_per_conv``
    conversations (inverse CDF, no sort); the rows of a conversation are
    then laid out together, turns numbered 0, 1, ... in order, roles
    cycling from a per-conversation offset."""
    n_convs = max(1, spec.n_turns // spec.turns_per_conv)
    cdf = np.cumsum(np.arange(1, n_convs + 1, dtype=np.float64) ** -spec.zipf_s)
    draw = np.searchsorted(cdf / cdf[-1], _unit(seed, name, np.arange(spec.n_turns)), "right")
    lens = np.bincount(np.minimum(draw, n_convs - 1), minlength=n_convs)
    conv = np.repeat(np.arange(n_convs), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn = np.arange(spec.n_turns) - starts
    role = (turn + stream(seed, name + "r", conv).astype(np.int64) % 3) % 3
    return conv, turn, role


def _conv_ids(prefix: str, conv: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), 8, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _tokens(seed: int, spec: TranscriptSpec, prefix: str, rows: np.ndarray) -> list:
    """Eight six-letter base-36 tokens per row, hashed from the table and
    the row number."""
    out = []
    for j in range(spec.tokens):
        h = stream(seed, f"{j}{prefix}", rows) % np.uint64(36 ** 6)
        digits = np.stack([(h // np.uint64(36 ** k)) % np.uint64(36) for k in range(6)], axis=1)
        buf = _B36[digits.astype(np.int64)].tobytes()
        out.append(pa.Array.from_buffers(
            pa.string(), len(rows),
            [None, pa.py_buffer((np.arange(len(rows) + 1, dtype=np.int32) * 6).tobytes()),
             pa.py_buffer(buf)]))
    return out


def _text(seed: int, spec: TranscriptSpec, prefix: str, layout, rows: np.ndarray,
          dup: np.ndarray | None) -> pa.Array:
    """Texts of table rows ``rows``: ``f"{role} turn {turn} of {conv_id}: "``
    and the row's tokens, or, where ``dup`` is set, a pool text."""
    conv, turn, role = (a[rows] for a in layout)
    tokens = pc.binary_join_element_wise(*_tokens(seed, spec, prefix, rows), " ")
    fresh = pc.binary_join_element_wise(
        _ROLES.take(pa.array(role)), " turn ", pc.cast(pa.array(turn), pa.string()),
        " of ", _conv_ids(prefix, conv), ": ", tokens, "")
    if dup is None:
        return fresh
    pool = pa.array([f"duplicated boilerplate #{i}" for i in range(spec.pool)])
    pick = pa.array((stream(seed, "poolid", rows) % np.uint64(spec.pool)).astype(np.int64))
    return pc.if_else(pa.array(dup), pool.take(pick), fresh)


def _build_dup(seed: int, spec: TranscriptSpec, rows: np.ndarray) -> np.ndarray:
    return stream(seed, "dup", rows) % np.uint64(1000) < spec.dup_per_mille


def _table(seed: int, prefix: str, layout, a: int, b: int, text) -> pa.Table:
    conv, turn, role = (x[a:b] for x in layout)
    rows = np.arange(a, b)
    pick = (stream(seed, prefix + "tool", rows) % np.uint64(len(_TOOLS))).astype(np.int64)
    tool = pc.if_else(pa.array(role == 2), _TOOLS.take(pa.array(pick)), "")
    ts = pa.array((_EPOCH_S + rows * 7) * 1_000_000, pa.int64())
    return pa.table({
        "conv_id": _conv_ids(prefix, conv),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": _ROLES.take(pa.array(role)),
        "text": text,
        "tool": tool,
        "ts": ts.cast(pa.timestamp("us")),
    })


def write_transcripts(seed: int, spec: TranscriptSpec, root: str, threads: int) -> dict:
    """Write ``root/transcripts`` and ``root/probe_transcripts``, one parquet
    file per part. Both tables follow F1 with their own conversations
    (``conv-`` and ``pconv-`` ids). A probe row is a member with
    ``member_per_mille`` odds and then copies the text of a random build
    row, pool texts included; any other probe row gets a fresh text, which
    names its ``pconv-`` conversation and so occurs nowhere in the build
    table. Returns the row count and the two text columns."""
    paths = [os.path.join(root, "transcripts"), os.path.join(root, "probe_transcripts")]
    for p in paths:
        os.makedirs(p)
    build, probe = _turn_layout(seed, spec, "conv"), _turn_layout(seed, spec, "pconv")

    def part(i, bounds):
        a, b = bounds
        rows = np.arange(a, b)
        text = _text(seed, spec, "conv-", build, rows, _build_dup(seed, spec, rows))
        member = stream(seed, "pmember", rows) % np.uint64(1000) < spec.member_per_mille
        src = (stream(seed, "psrc", rows[member]) % np.uint64(spec.n_turns)).astype(np.int64)
        ptext = pc.replace_with_mask(
            _text(seed, spec, "pconv-", probe, rows, None), pa.array(member),
            _text(seed, spec, "conv-", build, src, _build_dup(seed, spec, src)))
        _write_part(_table(seed, "conv-", build, a, b, text), paths[0], i)
        _write_part(_table(seed, "pconv-", probe, a, b, ptext), paths[1], i)
        return text, ptext

    out = _parallel(part, _split(spec.n_turns, spec.files), threads)
    return {
        "rows": 2 * spec.n_turns,
        "texts": pa.chunked_array([t for t, _ in out]),
        "probe_texts": pa.chunked_array([t for _, t in out]),
    }
