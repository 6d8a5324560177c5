"""Seeded transcript inputs for the ``extract`` workload.

The seed picks a range of conversation indices and the order of the
conversation sizes; every payload comes from the program's pure
``generator.make_turn(conv_idx, turn_idx)``, so the payload-family mix is
the generator's default.  The first conversation of the range is the hot
one, with ``HOT_FACTOR`` times the median turn count.

The staged input has two parts, both written as parquet:

- ``base``: the turns a previous, interrupted run already extracted —
  every turn except those of each 10th conversation, and except the second
  half of each 10th conversation offset by one;
- ``full``: every turn, so a resumed run has to find the rest.

The warm-up extracts the base turns of a small slice.
"""

from __future__ import annotations

import collections
import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from unraveldocs_spark.domwalk import is_html
from unraveldocs_spark.generator import conv_name, make_turn, mix64, turn_ts
from unraveldocs_spark.semantics import java_is_blank, try_parse_envelope

N_CONVS = 110
MEDIAN_TURNS = 100
HOT_FACTOR = 10
FILES = 4
WARM_CONVS = 12

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def conv_sizes(seed: int, n_convs: int = N_CONVS) -> list[int]:
    """A fixed long-tail multiset of sizes in a seeded order, so every seed
    has the same turn count; the hot conversation comes first."""
    span = 2 * MEDIAN_TURNS - 8
    sizes = [4 + i * span // (n_convs - 1) for i in range(n_convs - 1)]
    sizes.sort(key=lambda s: mix64(seed * 0x9E3779B1 + s))
    return [MEDIAN_TURNS * HOT_FACTOR] + sizes


def first_conv(seed: int) -> int:
    # conversation 1 carries the generator's oversize fixture; stay clear
    return 1000 + mix64(seed) % 10_000_000


def in_base(conv_pos: int, turn_idx: int, size: int) -> bool:
    if conv_pos % 10 == 9:
        return False
    if conv_pos % 10 == 8:
        return turn_idx < size // 2
    return True


def family(role, tool, text) -> str:
    """Payload family of one turn, named like the oracle microbench keys."""
    if text is None or java_is_blank(text):
        return "error"
    if role == "tool" and tool:
        return "tool"
    env = try_parse_envelope(text)
    if env is not None:
        return env.kind if env.kind in ("pages", "layout", "vision") else "error"
    return "html" if is_html(text) else "plain"


class Transcripts:
    """The rows of one seeded input, in (conversation, turn) order."""

    def __init__(self, seed: int):
        self.seed = seed
        self.sizes = conv_sizes(seed)
        c0 = first_conv(seed)
        self.hot_conv = conv_name(c0)
        cols = {name: [] for name in SCHEMA.names}
        self.base_mask: list[bool] = []
        self.families = collections.Counter()
        self.family_of: list[str] = []
        for pos, size in enumerate(self.sizes):
            c = c0 + pos
            for t in range(size):
                role, text, tool = make_turn(c, t, include_oversize=False)
                cols["conv_id"].append(conv_name(c))
                cols["turn_idx"].append(t)
                cols["role"].append(role)
                cols["text"].append(text)
                cols["tool"].append(tool)
                cols["ts"].append(turn_ts(c, t).replace(tzinfo=None))
                self.base_mask.append(in_base(pos, t, size))
                fam = family(role, tool, text)
                self.family_of.append(fam)
                self.families[fam] += 1
        self.table = pa.table(cols, schema=SCHEMA)
        self.n_turns = self.table.num_rows
        self.n_base = sum(self.base_mask)
        self.conv_ids = [conv_name(c0 + pos) for pos in range(len(self.sizes))]
        self.n_base_convs = sum(
            1 for pos in range(len(self.sizes)) if pos % 10 != 9
        )

    def digest(self) -> str:
        h = hashlib.sha256()
        for name in SCHEMA.names:
            h.update(repr(self.table.column(name).to_pylist()).encode())
        return h.hexdigest()[:16]

    def stage(self, out_dir: str) -> dict[str, tuple[str, int]]:
        """Write the ``base`` and ``full`` parquet datasets, and the base
        turns of the warm-up slice (conversations 1 to ``WARM_CONVS``);
        returns (dir, row count) by name."""
        warm = pa.array([c in self.conv_ids[1:1 + WARM_CONVS]
                         for c in self.table.column("conv_id").to_pylist()])
        base = pa.array(self.base_mask)
        parts = {
            "base": self.table.filter(base),
            "full": self.table,
            "warm_base": self.table.filter(pc.and_(warm, base)),
        }
        dirs = {}
        for part, table in parts.items():
            d = os.path.join(out_dir, part)
            dirs[part] = (d, table.num_rows)
            os.makedirs(d, exist_ok=True)
            step = -(-table.num_rows // FILES)
            for i in range(FILES):
                pq.write_table(
                    table.slice(i * step, step),
                    os.path.join(d, f"part-{i:02d}.parquet"),
                )
        return dirs
