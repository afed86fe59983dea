"""Seeded change-feed generator owned by the benchmark.

Built on numpy + pyarrow only, never Spark and never the engine's own
generator, so no engine change can alter the input or the time spent
making it. The same ``(spec, seed)`` always yields byte-identical segment
contents.

A feed is a list of segments. Each segment is one directory of parquet
files in the engine's change-envelope shape (``op, ts, op_seq, conv_id,
turn_idx, role, text, tool, source_file``). Segments are written into a
staging directory and later *delivered* by an atomic rename into the feed
directory the engine reads, so the engine only ever sees whole segments.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TS_US = 1_750_000_000_000_000
STEP_US = 10_000  # one original event every 10 ms of commit time
ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = np.array([0.35, 0.35, 0.10, 0.20])
TOOL_NAMES = pa.array([f"tool-{i:02d}" for i in range(16)], pa.string())
VOCAB_SIZE = 4000
TEXT_POOL = 8192
LATE_SEGMENTS = 3  # an out-of-order ts lands up to this many segments back

SCHEMA = pa.schema(
    [
        pa.field("op", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("op_seq", pa.int64(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("source_file", pa.string()),
    ]
)


@dataclass(frozen=True)
class FeedSpec:
    """Input properties the engine's behaviour depends on."""

    n_segments: int
    events_per_segment: int  # delivered events, duplicates included
    n_convs: int
    max_turns: int
    zipf_s: float  # key skew: P(conversation rank r) ∝ (r + 1) ** -zipf_s
    op_shares: tuple[float, float, float]  # (I, U, D)
    dup_ratio: float  # share of deliveries that re-send an earlier event
    ooo_ratio: float  # share of originals whose ts jumps back in time
    files_per_segment: int


def _vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = np.clip(rng.geometric(0.22, VOCAB_SIZE) + 1, 2, 14)
    return ["".join(rng.choice(letters, n)) for n in lengths]


def _text_pool(rng: np.random.Generator) -> pa.Array:
    """Texts of varied length drawn from a Zipf-weighted word vocabulary."""
    vocab = _vocabulary(rng)
    word_p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    word_p /= word_p.sum()
    n_words = np.clip(rng.lognormal(2.6, 0.7, TEXT_POOL).astype(int), 1, 120)
    words = rng.choice(VOCAB_SIZE, int(n_words.sum()), p=word_p)
    out, at = [], 0
    for n in n_words:
        out.append(" ".join(vocab[w] for w in words[at : at + n]))
        at += n
    return pa.array(out, pa.string())


class Feed:
    """One seeded feed: every segment's events, built up front."""

    def __init__(self, spec: FeedSpec, seed: int):
        self.spec = spec
        self.seed = seed
        rng = np.random.default_rng(seed)
        self._texts = _text_pool(rng)
        # hot conversations are spread over the id space, not clustered
        self.conv_of_rank = rng.permutation(spec.n_convs)
        p = 1.0 / np.arange(1, spec.n_convs + 1) ** spec.zipf_s
        self._rank_p = p / p.sum()
        self._conv_names = pa.array(
            [f"c{i:07d}" for i in range(spec.n_convs)], pa.string()
        )
        self._rng = rng
        self._originals: list[pa.Table] = []
        self.segments: list[pa.Table] = [self._segment(k) for k in range(spec.n_segments)]

    def _originals_for(self, k: int, n: int, seq0: int) -> pa.Table:
        s, rng = self.spec, self._rng
        seq = np.arange(seq0, seq0 + n, dtype=np.int64)
        rank = rng.choice(s.n_convs, n, p=self._rank_p)
        conv = self.conv_of_rank[rank]
        turn = rng.integers(0, s.max_turns, n, dtype=np.int32)
        op = rng.choice(np.array(["I", "U", "D"]), n, p=np.array(s.op_shares))
        ts = BASE_TS_US + seq * STEP_US
        late = rng.random(n) < s.ooo_ratio
        span = LATE_SEGMENTS * s.events_per_segment * STEP_US
        ts = ts - np.where(late, rng.integers(1, span, n), 0)
        role = rng.choice(ROLES, n, p=ROLE_P)
        tool_no = rng.integers(0, len(TOOL_NAMES), n)
        text_no = rng.integers(0, TEXT_POOL, n)
        is_del = op == "D"
        null = pa.scalar(None, pa.string())
        role_a = pc.if_else(pa.array(is_del), null, pa.array(role, pa.string()))
        tool_a = pc.if_else(
            pa.array(~is_del & (role == "tool")), TOOL_NAMES.take(pa.array(tool_no)), null
        )
        # every text carries its event's sequence number, so two updates of
        # one key never share a payload and a wrong LWW winner always shows
        body = pc.binary_join_element_wise(
            pc.cast(pa.array(seq), pa.string()), self._texts.take(pa.array(text_no)), " "
        )
        text_a = pc.if_else(pa.array(is_del), null, body)
        return pa.table(
            {
                "op": pa.array(op, pa.string()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "op_seq": pa.array(seq),
                "conv_id": self._conv_names.take(pa.array(conv)),
                "turn_idx": pa.array(turn, pa.int32()),
                "role": role_a,
                "text": text_a,
                "tool": tool_a,
                "source_file": pa.array([f"seg-{k:05d}"] * n, pa.string()),
            },
            schema=SCHEMA,
        )

    def _segment(self, k: int) -> pa.Table:
        s, rng = self.spec, self._rng
        n_dup = int(round(s.events_per_segment * s.dup_ratio))
        n_orig = s.events_per_segment - n_dup
        seq0 = 1 + sum(t.num_rows for t in self._originals)
        orig = self._originals_for(k, n_orig, seq0)
        self._originals.append(orig)
        # a duplicate re-delivers an event of the previous segment unchanged
        # (segment 0 re-delivers its own events)
        src = self._originals[max(k - 1, 0)]
        dup = src.take(pa.array(rng.choice(src.num_rows, n_dup, replace=False)))
        dup = dup.set_column(
            dup.schema.get_field_index("source_file"),
            "source_file",
            pa.array([f"seg-{k:05d}"] * n_dup, pa.string()),
        )
        seg = pa.concat_tables([orig, dup])
        # delivery order inside a segment is shuffled, as a binlog reader's
        # parallel fetch would leave it
        return seg.take(pa.array(rng.permutation(seg.num_rows)))

    def hot_and_cold_convs(self, n_hot: int, n_cold: int, seed: int) -> list[str]:
        """Point-read keys: ``n_hot`` from the top 1% of ranks and ``n_cold``
        from the bottom half, interleaved, drawn from ``seed``."""
        rng = np.random.default_rng(seed)
        n = self.spec.n_convs
        top = self.conv_of_rank[: max(1, n // 100)]
        tail = self.conv_of_rank[n // 2 :]
        hot = rng.choice(top, n_hot)
        cold = rng.choice(tail, n_cold)
        keys = np.concatenate([hot, cold])[rng.permutation(n_hot + n_cold)]
        return [f"c{i:07d}" for i in keys]

    def write(self, stage_dir: str) -> None:
        """Write every segment under ``stage_dir``, one directory each,
        named in delivery order. Each segment's files get a strictly later
        mtime than its predecessor's, because the streaming source orders
        new files by modification time."""
        base = 1_000_000_000  # fixed, so repeated writes look identical
        for k, seg in enumerate(self.segments):
            d = os.path.join(stage_dir, f"seg-{k:05d}")
            os.makedirs(d)
            nf = self.spec.files_per_segment
            step = -(-seg.num_rows // nf)
            for j in range(nf):
                f = os.path.join(d, f"part-{j:02d}.parquet")
                pq.write_table(seg.slice(j * step, step), f, compression="snappy")
                os.utime(f, (base + k, base + k))

    def properties(self, n_buckets: int) -> dict:
        """Realised input properties, recorded beside every run."""
        allt = pa.concat_tables(self.segments)
        ops = allt.column("op").to_numpy(zero_copy_only=False)
        n = len(ops)
        orig_n = sum(t.num_rows for t in self._originals)
        seqs = allt.column("op_seq").to_numpy()
        ts = allt.column("ts").cast(pa.int64()).to_numpy()
        conv = allt.column("conv_id").to_numpy(zero_copy_only=False)
        _, counts = np.unique(conv, return_counts=True)
        counts.sort()
        top1 = counts[-max(1, self.spec.n_convs // 100) :].sum() / n
        return {
            "spec": asdict(self.spec),
            "seed": self.seed,
            "n_buckets": n_buckets,
            "events": n,
            "events_per_segment": self.spec.events_per_segment,
            "share_I": float(np.mean(ops == "I")),
            "share_U": float(np.mean(ops == "U")),
            "share_D": float(np.mean(ops == "D")),
            "dup_ratio": float(1 - orig_n / n),
            "ooo_ratio": float(np.mean(ts < BASE_TS_US + seqs * STEP_US)),
            "distinct_keys_touched": int(
                len(np.unique(np.char.add(conv.astype(str), allt.column("turn_idx").to_numpy().astype(str))))
            ),
            "top1pct_conv_event_share": float(top1),
        }
