"""Seeded input generator for the benchmark (numpy + pyarrow, one process).

Independent of the program: nothing here imports the engine, so a change
to the engine can never change the inputs. Every draw comes from one
``numpy.random.Generator`` seeded by the workload seed.

Traffic dimensions the seed sets:

- text length is heavy-tailed (log-normal words, median ~300 chars) and
  the ``from_ip=`` token sits at a random word offset;
- conversation lengths are Zipf-distributed;
- ``from_ip`` keys are Zipf-distributed over the servers dimension, with
  ~25% drawn from addresses the dimension does not hold (misses);
- ~5% of turns are malformed (``from_ip=n/a``) and ~14% name a tool the
  catalog does not hold.

Besides the inputs, the generator knows the answer: ``expected_counts``
gives the per-(route, role, tool) turn counts the flagship pipeline must
produce, from the generator's own labels rather than from the text.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

ROLES = ["user", "assistant", "tool", "system"]
ROLE_P = np.array([0.4, 0.35, 0.2, 0.05])
KNOWN_TOOLS = [f"tool_{i}" for i in range(6)]
TOOL_CATALOG_ROWS = [
    ("tool_0", "search", "team-web", 1),
    ("tool_1", "code", "team-dev", 2),
    ("tool_2", "browser", "team-web", 3),
    ("tool_3", "shell", "team-infra", 4),
    ("tool_4", "db", "team-data", 3),
    ("tool_5", "mail", "team-comms", 2),
]
UNKNOWN_TOOLS = ["tool_ghost", "tool_legacy", "tool_beta"]
SERVER_NETS = ["10.", "100.", "192.", "198."]
LOCATIONS = ["LDN", "NYC", "MV", "SFO", "FRA", "SIN", "SYD", "GRU", "BOM", "YYZ"]

MALFORMED_P = 0.05
MISS_P = 0.25
UNKNOWN_TOOL_P = 0.14
KEY_ZIPF_S = 1.1
CONV_ZIPF_A = 1.6
MAX_CONV_TURNS = 4000
WORD_BYTES = 8  # every filler word is 7 letters + a space
TEXT_MEDIAN_WORDS = 36
TEXT_SIGMA = 0.9
TEXT_MAX_WORDS = 1000
TS0 = 1_735_689_600  # 2025-01-01T00:00:00Z

ROUTE_HIT, ROUTE_MISS, ROUTE_MALFORMED = "hit", "miss", "malformed"


@dataclasses.dataclass(frozen=True)
class Params:
    """What a generated data set depends on, beside the seed."""

    n_turns: int
    n_servers: int
    n_files: int = 1


@dataclasses.dataclass
class Dataset:
    root: str
    params: Params
    seed: int

    @property
    def transcripts(self) -> str:
        return os.path.join(self.root, "transcripts.parquet")

    @property
    def servers_csv(self) -> str:
        return os.path.join(self.root, "servers.csv")

    @property
    def tools_csv(self) -> str:
        return os.path.join(self.root, "tool_catalog.csv")

    @property
    def derby(self) -> str:
        return os.path.join(self.root, "derby")

    def expected(self, files: list[int] | None = None) -> dict[tuple[str, str, str], int]:
        """Expected per-(route, role, tool) counts over the given transcript
        files (all files by default)."""
        with open(os.path.join(self.root, "expected.json")) as fh:
            per_file = json.load(fh)
        out: Counter = Counter()
        for i in range(len(per_file)) if files is None else files:
            for k, v in per_file[i].items():
                out[tuple(k.split("|"))] += v
        return dict(out)

    def slice_dir(self, n_files: int) -> str:
        """A parquet directory holding (hard links to) the first
        ``n_files`` transcript files, for warm-up on a slice."""
        path = os.path.join(self.root, f"slice-{n_files}.parquet")
        if not os.path.isdir(path):
            tmp = path + ".tmp"
            os.makedirs(tmp, exist_ok=True)
            for f in self.file_paths()[:n_files]:
                os.link(f, os.path.join(tmp, os.path.basename(f)))
            os.rename(tmp, path)
        return path

    def file_paths(self) -> list[str]:
        return sorted(os.path.join(self.transcripts, f) for f in os.listdir(self.transcripts)
                      if f.endswith(".parquet"))


def zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _dotted(prefix, i: np.ndarray) -> pa.Array:
    """``prefix`` + the low three octets of ``i``, as strings."""
    octet = [pa.array((i // d % 256).astype(np.int64)).cast(pa.string()) for d in (65536, 256, 1)]
    return pc.binary_join_element_wise(prefix, octet[0], ".", octet[1], ".", octet[2], "")


def server_ips(n: int) -> pa.Array:
    """``n`` distinct addresses spread over four first octets, so a
    prefix pattern such as ``LIKE '10.%'`` selects about a quarter of
    the servers (and ``100.`` must not match it)."""
    i = np.arange(n, dtype=np.int64)
    return _dotted(pa.array(SERVER_NETS).take(i % len(SERVER_NETS)), i // len(SERVER_NETS))


def absent_ips(n: int) -> pa.Array:
    """Addresses no servers row holds (172.16.0.0/12)."""
    i = np.arange(n, dtype=np.int64)
    return _dotted("172.", i + 16 * 65536)


def servers_table(rng: np.random.Generator, n: int) -> pa.Table:
    loc = pa.array(LOCATIONS).take(rng.integers(0, len(LOCATIONS), n))
    rack = pa.array(rng.integers(1, 10, n)).cast(pa.string())
    seq = pa.array(np.arange(n)).cast(pa.string())
    return pa.table({
        "ip": server_ips(n),
        "name": pc.binary_join_element_wise(pc.utf8_lower(loc), "-srv-", seq, ""),
        "location": pc.binary_join_element_wise(loc, "-", rack, ""),
    })


def conversation_lengths(rng: np.random.Generator, n_turns: int) -> np.ndarray:
    lengths = []
    total = 0
    while total < n_turns:
        chunk = np.minimum(rng.zipf(CONV_ZIPF_A, 4096), MAX_CONV_TURNS)
        lengths.append(chunk)
        total += int(chunk.sum())
    out = np.concatenate(lengths)
    cum = np.cumsum(out)
    k = int(np.searchsorted(cum, n_turns))
    out = out[: k + 1].copy()
    out[-1] -= int(cum[k] - n_turns)
    return out[out > 0]


def _words(rng: np.random.Generator, counts: np.ndarray, vocab: np.ndarray) -> pa.Array:
    """One string per row made of ``counts[i]`` fixed-width filler words."""
    ids = rng.integers(0, len(vocab), int(counts.sum()))
    data = vocab[ids].reshape(-1)
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts * WORD_BYTES, out=offsets[1:])
    return pa.StringArray.from_buffers(
        len(counts), pa.py_buffer(offsets), pa.py_buffer(data.tobytes())
    )


def _vocab(rng: np.random.Generator) -> np.ndarray:
    """Filler words: 7 lowercase letters + space, never containing a
    digit or '=' so no filler can look like a ``from_ip=`` token."""
    letters = rng.integers(ord("a"), ord("z") + 1, (512, WORD_BYTES - 1), dtype=np.uint8)
    space = np.full((512, 1), ord(" "), dtype=np.uint8)
    return np.concatenate([letters, space], axis=1)


def transcripts_table(rng: np.random.Generator, n_turns: int, n_servers: int) -> pa.Table:
    """Transcript rows in the input_hint shape plus the generator's labels
    (``_route``), which the benchmark strips before writing."""
    conv_len = conversation_lengths(rng, n_turns)
    conv = np.repeat(np.arange(len(conv_len)), conv_len)
    starts = np.repeat(np.cumsum(conv_len) - conv_len, conv_len)
    turn_idx = (np.arange(n_turns) - starts).astype(np.int32)
    conv_ids = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pa.array(np.arange(len(conv_len))).cast(pa.string()), 7, "0"), ""
    )

    role = rng.choice(len(ROLES), n_turns, p=ROLE_P)
    unknown_tool = rng.random(n_turns) < UNKNOWN_TOOL_P
    tool = np.where(
        unknown_tool,
        len(KNOWN_TOOLS) + rng.integers(0, len(UNKNOWN_TOOLS), n_turns),
        rng.integers(0, len(KNOWN_TOOLS), n_turns),
    )
    malformed = rng.random(n_turns) < MALFORMED_P
    miss = rng.random(n_turns) < MISS_P
    # Zipf over a seeded permutation of the servers, so the hot keys are
    # not simply the first rows of the dimension.
    hot = rng.permutation(n_servers)
    key = hot[rng.choice(n_servers, n_turns, p=zipf_p(n_servers, KEY_ZIPF_S))]
    n_absent = max(64, n_servers // 4)
    absent = rng.choice(n_absent, n_turns, p=zipf_p(n_absent, KEY_ZIPF_S))
    # one pool: the servers' addresses, then the absent ones, then "n/a"
    pool = pa.concat_arrays([server_ips(n_servers), absent_ips(n_absent), pa.array(["n/a"])])
    ip_idx = np.where(malformed, n_servers + n_absent, np.where(miss, n_servers + absent, key))

    n_words = np.clip(
        np.rint(rng.lognormal(np.log(TEXT_MEDIAN_WORDS), TEXT_SIGMA, n_turns)),
        1, TEXT_MAX_WORDS,
    ).astype(np.int64)
    before = rng.integers(0, n_words + 1)
    vocab = _vocab(rng)
    text = pc.binary_join_element_wise(
        _words(rng, before, vocab), "from_ip=", pool.take(ip_idx), " ",
        _words(rng, n_words - before, vocab), "",
    )
    ts = (TS0 + conv.astype(np.int64) * 3600 + turn_idx * 7).astype("datetime64[s]")

    route = np.where(malformed, 2, np.where(miss | unknown_tool, 1, 0))
    return pa.table({
        "conv_id": conv_ids.take(conv),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(ROLES).take(role),
        "text": text,
        "tool": pa.array(KNOWN_TOOLS + UNKNOWN_TOOLS).take(tool),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "_route": pa.array([ROUTE_HIT, ROUTE_MISS, ROUTE_MALFORMED]).take(route),
    })


def expected_counts(table: pa.Table) -> dict[tuple[str, str, str], int]:
    """Per-(route, role, tool) turn counts from the generator's labels."""
    keys = table.group_by(["_route", "role", "tool"]).aggregate([([], "count_all")])
    return {
        (r, role, tool): n
        for r, role, tool, n in zip(*(keys.column(c).to_pylist() for c in
                                      ("_route", "role", "tool", "count_all")))
    }


def _write_csv(path: str, columns: list[np.ndarray]) -> None:
    with open(path, "w") as fh:
        for row in zip(*columns):
            fh.write(",".join(str(v) for v in row) + "\n")


def cache_key(seed: int, params: Params) -> str:
    blob = json.dumps([GENERATOR_VERSION, seed, dataclasses.asdict(params)])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def generate(root: str, seed: int, params: Params) -> Dataset:
    """Write one data set under ``root``: transcripts as ``n_files`` equal
    parquet files (ascending mtimes, so a file stream reads them in a
    fixed order), the dimensions as CSV, and the expected counts."""
    rng = np.random.default_rng(seed)
    servers = servers_table(rng, params.n_servers)
    table = transcripts_table(rng, params.n_turns, params.n_servers)
    ds = Dataset(root, params, seed)
    os.makedirs(ds.transcripts, exist_ok=True)
    bounds = np.linspace(0, params.n_turns, params.n_files + 1).astype(int)
    per_file = []
    for i in range(params.n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(ds.transcripts, f"part-{i:05d}.parquet")
        pq.write_table(part.drop(["_route"]), path, row_group_size=1 << 20)
        os.utime(path, (TS0 + i, TS0 + i))
        per_file.append({"|".join(k): v for k, v in expected_counts(part).items()})
    _write_csv(ds.servers_csv, [servers.column(c).to_numpy(zero_copy_only=False)
                                for c in ("ip", "name", "location")])
    _write_csv(ds.tools_csv, list(zip(*TOOL_CATALOG_ROWS)))
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump(per_file, fh)
    return ds


def cached(cache_dir: str, seed: int, params: Params, keep: int = 4) -> Dataset:
    """The data set for (seed, params), generated on first use. Only the
    ``keep`` most recently used data sets stay on disk."""
    root = os.path.join(cache_dir, cache_key(seed, params))
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        generate(root, seed, params)
        open(done, "w").close()
    os.utime(done)
    entries = sorted(
        (e for e in os.scandir(cache_dir) if os.path.exists(os.path.join(e.path, "DONE"))),
        key=lambda e: os.path.getmtime(os.path.join(e.path, "DONE")),
    )
    for e in entries[:-keep]:
        import shutil

        shutil.rmtree(e.path, ignore_errors=True)
    return Dataset(root, params, seed)
