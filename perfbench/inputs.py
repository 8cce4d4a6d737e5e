"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument, writes its tables as parquet
with pyarrow (the engine only ever receives files) and returns the expected
answers that the per-pass checks compare against. Expected answers are
computed here from the generator's own rows, independently of the engine;
the only exception is the dedup workload, whose expected outputs are the
package's DuckDB ``*_oracle()`` SQL run once per seed.

The protobuf wire bytes for the codec workload come from a small reference
encoder in this file (proto3 canonical encoding of the ``turn_wire``
message: fields in number order, implicit presence for scalars, the chosen
oneof member always emitted), not from the engine.
"""

from __future__ import annotations

import functools
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dictionary of the engine's enrichment step (sources/dims.py TOOLS_ROWS):
# the generator needs it to know where each turn must land.
TOOL_SINK = {"none": "sink_a", "search": "sink_b", "browser": "sink_b",
             "calc": "sink_c", "code": "sink_c", "sql": "sink_d"}
UNKNOWN_TOOLS = ("shell", "vision")  # absent from the dictionary
DEAD_LETTER = "dead_letter"
SINKS = ("sink_a", "sink_b", "sink_c", "sink_d", DEAD_LETTER)
ROLES = ("user", "assistant", "system")
# turn_wire's Colour enum (names as the pb3 decoder emits them)
COLOUR_NAMES = ("UNDEFINED", "BLUE", "PINK", "SILVER", "GLITTER", "WHITE",
                "GREEN")
MALFORMED_EVERY = 37  # 1/37 of turns carry an unparseable payload


def _write_parts(table: pa.Table, out_dir: str, parts: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _common_turn_fields(rng: np.random.Generator, n: int) -> dict:
    """Column arrays shared by the ingest text payload and the wire rows."""
    tool_pool = list(TOOL_SINK) + list(UNKNOWN_TOOLS)
    tool_p = [0.95 / len(TOOL_SINK)] * len(TOOL_SINK) + \
             [0.05 / len(UNKNOWN_TOOLS)] * len(UNKNOWN_TOOLS)
    return {
        "role": rng.choice(np.array(ROLES), n, p=[0.45, 0.45, 0.10]),
        "tool": rng.choice(np.array(tool_pool), n, p=tool_p),
        "colour": rng.integers(0, 7, n),
        "cents": rng.integers(-50_000, 2_000_000, n),
        "unicorn": rng.random(n) < 0.5,
        "horn": rng.integers(0, 10, n),
        "wings": rng.integers(0, 15, n),
    }


def _conversations(rng: np.random.Generator, n: int, hot_share: float = 0.3,
                   mean_len: int = 24) -> tuple[np.ndarray, np.ndarray]:
    """conv index per turn (0 = the hot conversation) and 1-based turn_idx."""
    n_hot = int(n * hot_share)
    n_conv = max(1, (n - n_hot) // mean_len)
    conv = np.concatenate([np.zeros(n_hot, dtype=np.int64),
                           rng.integers(1, n_conv + 1, n - n_hot)])
    conv = rng.permutation(conv)
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    turn = np.empty(n, dtype=np.int64)
    turn[order] = np.arange(n) - run_start + 1
    return conv, turn


# ---------------------------------------------------------------------------
# ingest_fanout: the transcripts table of the batch job
# ---------------------------------------------------------------------------

@dataclass
class IngestExpected:
    n_turns: int
    sink_counts: dict[str, int]
    dead_letter_rows: int        # payloads that fail to parse
    unmatched_rows: int          # parsed turns with a tool not in the dict
    # conv -> (n_turns, max_turn, sum_cents)
    conv_stats: dict[str, tuple[int, int, int]]
    hourly: dict[tuple[str, str], int]            # (hour iso, sink) -> n


def ingest_inputs(seed: int, n: int, out_dir: str) -> IngestExpected:
    """Transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` with PB3 text
    payloads: ~30% of turns in one hot conversation, 1/37 malformed payloads,
    ~5% of turns using tools missing from the enrichment dictionary."""
    rng = np.random.default_rng([seed, 1])
    conv, turn = _conversations(rng, n)
    f = _common_turn_fields(rng, n)
    conv_ids = np.where(conv == 0, "conv-hot",
                        np.char.add("conv-", conv.astype(str)))
    # per-conversation clocks over two days; turns ~90 s apart on average
    base = np.datetime64("2024-03-01T00:00:00", "us")
    start_us = rng.integers(0, 2 * 86_400, conv.max() + 1) * 1_000_000
    gap_us = rng.integers(1, 180_000_000, n)
    order = np.lexsort((turn, conv))
    g = gap_us[order]
    c = np.cumsum(g)
    seg = np.r_[0, np.flatnonzero(np.diff(conv[order])) + 1]
    within = np.empty(n, dtype=np.int64)
    within[order] = c - np.repeat(c[seg] - g[seg], np.diff(np.r_[seg, n]))
    # the hot conversation spans the window at a finer pace
    offs = np.where(conv == 0, within // 50, within + start_us[conv])
    ts = base + offs.astype("timedelta64[us]")

    malformed = np.zeros(n, dtype=bool)
    malformed[rng.choice(n, n // MALFORMED_EVERY, replace=False)] = True
    body = np.where(f["unicorn"], "unicorn", "pegasus")
    cl, tl, rl, tol = (conv_ids.tolist(), turn.tolist(), f["role"].tolist(),
                       f["tool"].tolist())
    col, cel, hl, wl = (f["colour"].tolist(), f["cents"].tolist(),
                        f["horn"].tolist(), f["wings"].tolist())
    bl, ml = body.tolist(), malformed.tolist()
    text = [
        f"CORRUPT|{i}" if ml[i] else
        f"PB3|conv={cl[i]}|turn={tl[i]}|role={rl[i]}|tool={tol[i]}"
        f"|colour={col[i]}|cents={cel[i]}|oneof={bl[i]}|horn={hl[i]}"
        f"|wings={wl[i]}|msg=m{i}"
        for i in range(n)
    ]
    time_order = np.argsort(ts, kind="stable")  # arrival order on disk
    table = pa.table({
        "conv_id": pa.array(conv_ids[time_order], pa.string()),
        "turn_idx": pa.array(turn[time_order], pa.int32()),
        "role": pa.array(f["role"][time_order], pa.string()),
        "text": pa.array([text[i] for i in time_order], pa.string()),
        "tool": pa.array(f["tool"][time_order], pa.string()),
        "ts": pa.array(ts[time_order], pa.timestamp("us")),
    })
    _write_parts(table, out_dir, 8)

    known = np.isin(f["tool"], list(TOOL_SINK))
    sink = np.where(~malformed & known,
                    np.vectorize(lambda t: TOOL_SINK.get(t, DEAD_LETTER))(
                        f["tool"]),
                    DEAD_LETTER)
    counts = {s: int((sink == s).sum()) for s in SINKS}
    good = sink != DEAD_LETTER
    conv_stats: dict[str, list[int]] = {}
    for cid, t, cents in zip(conv_ids[good], turn[good], f["cents"][good]):
        st = conv_stats.setdefault(str(cid), [0, 0, 0])
        st[0] += 1
        st[1] = max(st[1], int(t))
        st[2] += int(cents)
    hours = ts.astype("datetime64[h]").astype(str)
    hourly: dict[tuple[str, str], int] = {}
    for h, s in zip(hours[good], sink[good]):
        hourly[(h, str(s))] = hourly.get((h, str(s)), 0) + 1
    return IngestExpected(
        n_turns=n, sink_counts=counts,
        dead_letter_rows=int(malformed.sum()),
        unmatched_rows=int((~malformed & ~known).sum()),
        conv_stats={k: tuple(v) for k, v in conv_stats.items()},
        hourly=hourly,
    )


# ---------------------------------------------------------------------------
# wire_codec: turn_wire protobuf bytes, both directions
# ---------------------------------------------------------------------------

def _varint_slow(n: int) -> bytes:
    if n < 0:
        n += 1 << 64
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


_SMALL = [_varint_slow(n) for n in range(1 << 14)]


def _varint(n: int) -> bytes:
    return _SMALL[n] if 0 <= n < (1 << 14) else _varint_slow(n)


@functools.lru_cache(maxsize=1 << 16)
def _len_field(tag: int, s: str) -> bytes:
    b = s.encode()
    return bytes((tag,)) + _varint(len(b)) + b


def _msg_field(msg: str) -> bytes:
    b = msg.encode()
    return b"\x52" + _varint(len(b)) + b                  # 10: string


def encode_turn(conv_id: str, turn_idx: int, role: str, tool: str,
                colour: int, cents: int, unicorn: bool, horn: int, wings: int
                ) -> bytes:
    """Reference proto3 encoding of ``turn_wire`` fields 1-9; field 10
    (``msg``, the last in number order) is appended by the caller."""
    out = bytearray()
    if conv_id:
        out += _len_field(0x0A, conv_id)                 # 1: string
    if turn_idx:
        out += b"\x10" + _varint(turn_idx)               # 2: int32
    if role:
        out += _len_field(0x1A, role)                    # 3: string
    if tool:
        out += _len_field(0x22, tool)                    # 4: string
    if colour:
        out += b"\x28" + _varint(colour)                 # 5: enum
    if cents:
        zz = cents << 1 if cents >= 0 else (-cents << 1) - 1
        out += b"\x30" + _varint(zz)                     # 6: sint64
    if unicorn:
        out += b"\x40" + _varint(horn)                   # 8: oneof body
    else:
        out += b"\x48" + _varint(wings)                  # 9: oneof body
    return bytes(out)


# Corruptions the decoder must reject (each yields an `error`, never a row):
# a varint cut before its last byte, wire types 6/7, field number 0, and a
# length prefix that overruns the payload.
def _corrupt(kind: int, valid: bytes) -> bytes:
    if kind == 0:
        return valid + b"\x10\x80"          # truncated varint (field 2)
    if kind == 1:
        return b"\x0f" + valid              # field 1, wire type 7
    if kind == 2:
        return b"\x00\x01" + valid          # field number 0
    if kind == 3:
        return valid + b"\x0e\x01"          # field 1, wire type 6
    return b"\x0a\x7f" + valid[:8]          # length 127 over <= 8 bytes


def decoded_digest_key(i: int, conv_id: str, turn_idx: int, role: str,
                       tool: str, colour: int, cents: int, unicorn: bool,
                       horn: int, wings: int, msg: str) -> str:
    """The row text whose CRC-32 the decode pass sums (see workloads)."""
    return "|".join((str(i), conv_id, str(turn_idx), role, tool,
                     COLOUR_NAMES[colour], str(cents),
                     str(horn) if unicorn else "-",
                     "-" if unicorn else str(wings), msg,
                     "horn" if unicorn else "wings"))


@dataclass
class WireExpected:
    n_decode: int
    n_encode: int
    decode_digest: int           # sum of crc32(row key) over valid payloads
    corrupt_count: int
    corrupt_id_sum: int
    encode_digest: int           # sum of crc32("id|payload hex")
    encode_bytes: int            # total encoded payload bytes


def _wire_rows(rng: np.random.Generator, n: int) -> dict:
    conv, turn = _conversations(rng, n, hot_share=0.1)
    f = _common_turn_fields(rng, n)
    f["conv_id"] = np.char.add("conv-", conv.astype(str))
    f["turn_idx"] = turn
    return f


def _rows(f: dict):
    """Row tuples in ``encode_turn`` argument order, plus ``msg``."""
    cols = [f[k].tolist() for k in ("conv_id", "turn_idx", "role", "tool",
                                    "colour", "cents", "unicorn", "horn",
                                    "wings")]
    for i, row in enumerate(zip(*cols)):
        yield row + (f"m{i}",)


def wire_inputs(seed: int, n_decode: int, n_encode: int, decode_dir: str,
                encode_dir: str) -> WireExpected:
    """Stored ``(id, payload binary)`` for decode, with ~0.5% planted corrupt
    payloads, and typed ``turn_wire`` rows for encode."""
    rng = np.random.default_rng([seed, 2])
    f = _wire_rows(rng, n_decode)
    corrupt = np.zeros(n_decode, dtype=bool)
    n_corrupt = max(5, n_decode // 200)
    corrupt[rng.choice(n_decode, n_corrupt, replace=False)] = True
    payloads, digest, id_sum = [], 0, 0
    crc, enc = zlib.crc32, encode_turn
    for i, row in enumerate(_rows(f)):
        b = enc(*row[:-1]) + _msg_field(row[-1])
        if corrupt[i]:
            payloads.append(_corrupt(i % 5, b))
            id_sum += i
        else:
            payloads.append(b)
            digest += crc(decoded_digest_key(i, *row).encode())
    table = pa.table({"id": pa.array(np.arange(n_decode), pa.int64()),
                      "payload": pa.array(payloads, pa.binary())})
    _write_parts(table, decode_dir, 8)

    g = _wire_rows(rng, n_encode)
    enc_digest, enc_bytes = 0, 0
    for i, row in enumerate(_rows(g)):
        b = enc(*row[:-1]) + _msg_field(row[-1])
        enc_digest += crc(f"{i}|{b.hex()}".encode())
        enc_bytes += len(b)
    etable = pa.table({
        "id": pa.array(np.arange(n_encode), pa.int64()),
        "conv_id": pa.array(g["conv_id"], pa.string()),
        "turn_idx": pa.array(g["turn_idx"], pa.int32()),
        "role": pa.array(g["role"], pa.string()),
        "tool": pa.array(g["tool"], pa.string()),
        "colour": pa.array(g["colour"], pa.int32()),
        "cents": pa.array(g["cents"], pa.int64()),
        "body_type": pa.array(np.where(g["unicorn"], "unicorn", "pegasus"),
                              pa.string()),
        "horn": pa.array(g["horn"], pa.int32()),
        "wings": pa.array(g["wings"], pa.int32()),
        "msg": pa.array([f"m{i}" for i in range(n_encode)], pa.string()),
    })
    _write_parts(etable, encode_dir, 8)
    return WireExpected(
        n_decode=n_decode, n_encode=n_encode, decode_digest=digest,
        corrupt_count=int(corrupt.sum()), corrupt_id_sum=id_sum,
        encode_digest=enc_digest, encode_bytes=enc_bytes,
    )


# ---------------------------------------------------------------------------
# dedup_corpus: documents with planted near-duplicate families + embeddings
# ---------------------------------------------------------------------------

def _vocabulary(n: int = 2000) -> list[str]:
    """A fixed vocabulary of random lowercase words (the same for every
    seed). It is large enough that unrelated documents share few character
    4-grams, so LSH candidates come from the planted families rather than
    from chance overlap."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return sorted({"".join(rng.choice(letters, int(rng.integers(3, 10))))
                   for _ in range(n)})


_WORDS = np.array(_vocabulary())


# Corpus sizes, taken from the repository's own documents tables (the sf0.1
# table that bench.py's dedup leaves read): 5,000 documents of 10-100 words,
# 2,000 64-d embeddings, and 5% of the documents (250 of 5,000; 25 of 500 at
# sf0.01) near-copies of another document, at character 3-gram Jaccard
# 0.93-1.0. The boilerplate family is planted on top of that base, as in
# bench.py's boilerplate stress: LSH_MAX_BUCKET (1024) + 6 identical copies,
# so its band buckets are oversize, and 17% of the corpus.
DOCS_BASE = 5_000
NEARDUP_COPIES = 250
BOILERPLATE_COPIES = 1_030
EMBEDDINGS = 2_000
EMBED_DIM = 64  # the engine's similarity.DIM


@dataclass
class DedupExpected:
    n_docs: int
    jaccard_pairs: set = field(default_factory=set)
    clusters: set = field(default_factory=set)
    neardup_pairs: set = field(default_factory=set)


def _doc(rng: np.random.Generator) -> list[str]:
    return list(rng.choice(_WORDS, int(rng.integers(10, 101))))


def _mutate(rng: np.random.Generator, words: list[str], n_edits: int
            ) -> list[str]:
    w = list(words)
    for pos in rng.choice(len(w), n_edits, replace=False):
        w[pos] = str(rng.choice(_WORDS))
    return w


def dedup_inputs(seed: int, n_base: int, n_copies: int, n_boilerplate: int,
                 n_embeddings: int, docs_dir: str, emb_dir: str
                 ) -> DedupExpected:
    """Corpus = ``n_base`` documents, ``n_copies`` of them near-copies in
    families (a base document plus 1-5 copies with 0-2 word edits), and on
    top one boilerplate family of ``n_boilerplate`` identical copies.

    ``n_embeddings`` distinct texts get a 64-d embedding: every family
    member, the boilerplate text once (exact copies add nothing to embed),
    then unique documents. Family members lie within a small angle of a
    shared base direction; everything else is an independent direction."""
    rng = np.random.default_rng([seed, 3])

    def unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v)

    # (text, vector or None); family sizes and edit counts cycle, so every
    # seed plants the same family structure and only texts and directions
    # differ
    fam: list[tuple[str, np.ndarray]] = []
    f = copies = 0
    while copies < n_copies:
        base = _doc(rng)
        base_v = unit(rng.standard_normal(EMBED_DIM))
        n_fam = min(1 + f % 5, n_copies - copies) + 1
        for c in range(n_fam):
            fam.append((" ".join(_mutate(rng, base, c % 3)),
                        unit(base_v + 0.03 * rng.standard_normal(EMBED_DIM))))
        copies += n_fam - 1
        f += 1
    n_unique = n_base - len(fam)
    n_vec_unique = n_embeddings - len(fam) - 1
    docs = fam + [(" ".join(_doc(rng)),
                   unit(rng.standard_normal(EMBED_DIM))
                   if i < n_vec_unique else None)
                  for i in range(n_unique)]
    boiler = " ".join(rng.choice(_WORDS, 12))  # a short banner / footer
    docs.append((boiler, unit(rng.standard_normal(EMBED_DIM))))
    docs += [(boiler, None)] * (n_boilerplate - 1)
    docs = [docs[i] for i in rng.permutation(len(docs))]
    n = len(docs)
    _write_parts(pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                           "text": pa.array([t for t, _ in docs],
                                            pa.string())}),
                 docs_dir, 4)
    emb_ids = [j for j, (_, v) in enumerate(docs) if v is not None]
    emb = pa.array([docs[j][1].astype(np.float32) for j in emb_ids],
                   pa.list_(pa.float32()))
    _write_parts(pa.table({"vec_id": pa.array(emb_ids, pa.int64()),
                           "embedding": emb}), emb_dir, 4)
    return DedupExpected(n_docs=n)
