"""Seeded `.pol` pool corpus, game lookup and the KPIs they must produce.

The corpus follows FIXTURES.md A1/A2:

* zero-inflated prize tables with a long tail up to 25000;
* typed files (``<win> <TYPE>`` lines, type codes TB1..TF2), some lines
  with an integer third-column add-on (added to the win) and some with a
  non-integer third token (ignored), plus a non-numeric header line that
  the lenient parser drops;
* nested folders, a file at the corpus root, padded (``0429``) and
  unpadded (``77``) pool ids;
* fixed edge pools: an all-zero pool, a constant pool, an id with no
  lookup row, and an unpadded fact id (``201``) whose only lookup row is
  padded (``0201``), which the reference's three-stage fallback does not
  match.

The expected KPIs are computed here from the generated value counts, by
re-deriving the reference semantics (etl/transform.py) in plain Python:
nothing in this module imports the package under test.
"""

from __future__ import annotations

import math
import os
import zlib
from collections import Counter
from dataclasses import dataclass, field
from decimal import ROUND_HALF_EVEN, Decimal

import numpy as np

PRIZES = np.array(
    [25, 50, 75, 100, 125, 150, 200, 250, 300, 375, 400, 500, 600, 750, 800,
     1000, 1250, 1500, 2000, 2500, 3000, 5000, 7500, 10000, 12500, 15000,
     20000, 25000]
)
TYPE_CODES = ["TB1", "TB2", "TB3", "TF1", "TF2"]
POOL_TYPES = ["395", "941", "292", "40920160", "50940020", "550940020"]
BETS = [1.0, 5.0, 10.0, 25.0, 30.0, 40.0, 50.0]
FOLDERS = ["pools/north", "pools/north/2024", "pools/south", "archive/old/deep", ""]
ADDONS = [5, 10, 25]
Z_90 = 1.645


@dataclass
class PoolFile:
    """One generated pool file: where it lives and how it is drawn."""

    rel_path: str
    pool_id: str
    pool_type: str
    n_lines: int
    zero_frac: float
    typed: bool
    kind: str = "random"  # random | all_zero | constant
    counts: Counter = field(default_factory=Counter)  # game_win -> lines

    @property
    def file_name(self) -> str:
        return self.rel_path.rsplit("/", 1)[-1]

    @property
    def folder_path(self) -> str:
        return self.rel_path.rsplit("/", 1)[0] if "/" in self.rel_path else "root"


def plan_corpus(seed: int, n_files: int, lines_per_file: int) -> list[PoolFile]:
    """Lay out ``n_files`` random pools plus five fixed edge pools.

    Line counts step from 0.8x to 1.2x ``lines_per_file`` over the files,
    so no two pools share a denominator while the corpus size stays the
    same for every seed; edge pools are small so they never dominate."""
    rng = np.random.default_rng([seed, 1])
    ids = rng.choice(np.arange(300, 9999), size=n_files, replace=False)
    files = []
    for i, num in enumerate(ids):
        # every fifth id is written unpadded (3 digits); the rest padded
        pool_id = str(num) if i % 5 == 4 and num < 1000 else f"{num:04d}"
        pool_type = POOL_TYPES[i % len(POOL_TYPES)]
        folder = FOLDERS[i % len(FOLDERS)]
        name = f"Pool_{pool_id}_{pool_type}.pol"
        files.append(
            PoolFile(
                rel_path=f"{folder}/{name}" if folder else name,
                pool_id=pool_id,
                pool_type=pool_type,
                n_lines=int(lines_per_file * (0.8 + 0.4 * i / max(1, n_files - 1))),
                zero_frac=0.0 if i == 0 else float(rng.uniform(0.4, 0.6)),
                typed=i % 2 == 0,
            )
        )
    small = max(50, lines_per_file // 20)
    files += [
        PoolFile("pools/edge/Pool_0007_941.pol", "0007", "941", small, 1.0, False, "all_zero"),
        PoolFile("pools/edge/Pool_0042_292.pol", "0042", "292", small, 0.0, True, "constant"),
        PoolFile("pools/edge/Pool_9999_941.pol", "9999", "941", small, 0.5, False),
        PoolFile("pools/edge/Pool_201_395.pol", "201", "395", small, 0.5, True),
        PoolFile("pools/edge/Pool_0201_395.pol", "0201", "395", small, 0.0, True),
    ]
    return files


def plan_lookup(files: list[PoolFile], seed: int) -> list[tuple[str, str, str, float]]:
    """Game lookup rows ``(Game, Game_id, Pool_id, Bet)`` in source order.

    Pool ``9999`` and the unpadded ``201`` get no row of their own; every
    other pool gets one to three games, spelled exactly, or unpadded when
    the fact id is padded (the reference matches that by zero-filling the
    lookup id). Bets are drawn per game; the first row's bet is the
    pool's ``min_bet``."""
    rng = np.random.default_rng([seed, 2])
    rows = []
    game_id = 1000
    for i in rng.permutation(len(files)):
        f = files[i]
        if f.pool_id in ("9999", "201"):
            continue
        spelling = f.pool_id
        if f.pool_id.startswith("0") and f.pool_id != "0201" and rng.random() < 0.4:
            spelling = f.pool_id.lstrip("0") or "0"
        for _ in range(int(rng.integers(1, 4))):
            game_id += int(rng.integers(1, 50))
            bet = BETS[int(rng.integers(len(BETS)))]
            rows.append((f"Game{game_id}", str(game_id), spelling, bet))
    return rows


def _draw_wins(f: PoolFile, rng: np.random.Generator) -> np.ndarray:
    if f.kind == "all_zero":
        return np.zeros(f.n_lines, dtype=np.int64)
    if f.kind == "constant":
        return np.full(f.n_lines, 250, dtype=np.int64)
    weights = PRIZES.astype(float) ** -0.7
    wins = rng.choice(PRIZES, size=f.n_lines, p=weights / weights.sum())
    wins[rng.random(f.n_lines) < f.zero_frac] = 0
    return wins.astype(np.int64)


def write_pool_file(root: str, f: PoolFile, seed: int) -> None:
    """Draw the pool's lines from ``seed``, write them, and record the
    per-value counts of the wins the parser must see."""
    rng = np.random.default_rng([seed, 3, zlib.crc32(f.rel_path.encode())])
    base = _draw_wins(f, rng)
    n = f.n_lines
    if f.typed:
        code = rng.integers(len(TYPE_CODES), size=n)
        # third token: -1 none, -2 a non-integer token, else an add-on
        third = np.full(n, -1)
        if f.kind == "random":
            u = rng.random(n)
            third[u < 0.03] = rng.choice(ADDONS, size=int((u < 0.03).sum()))
            third[(u >= 0.03) & (u < 0.04)] = -2
    else:
        code = np.full(n, -1)
        third = np.full(n, -1)
    wins = base + np.where(third > 0, third, 0)
    f.counts = Counter(dict(zip(*(x.tolist() for x in np.unique(wins, return_counts=True)))))

    # few distinct (win, code, third) triples: spell each once, then index
    radix = len(TYPE_CODES) + 1
    key = (base * radix + code + 1) * 64 + third + 2
    combos, inverse = np.unique(key, return_inverse=True)
    table = []
    for k in combos.tolist():
        b, c, t = k // 64 // radix, k // 64 % radix - 1, k % 64 - 2
        parts = [str(b)]
        if c >= 0:
            parts.append(TYPE_CODES[c])
        if t == -2:
            parts.append("x")
        elif t > 0:
            parts.append(str(t))
        table.append(" ".join(parts))
    lines = np.array(table, dtype=object)[inverse].tolist()
    if f.typed:
        lines.insert(0, f"# pool {f.pool_id} type {f.pool_type}")
    path = os.path.join(root, f.rel_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def write_corpus(root: str, files: list[PoolFile], seed: int) -> int:
    """Write every file; returns the number of lines written."""
    for f in files:
        write_pool_file(root, f, seed)
    return sum(f.n_lines + f.typed for f in files)


# ---------------------------------------------------------------------------
# expected values, re-derived from the reference semantics


def bround(x: float, digits: int) -> float:
    """Half-even rounding of a double's decimal spelling (Spark ``bround``,
    the engine's stand-in for numpy's ``round``)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_EVEN))


def _lookup_match(fact_id: str, lookup: list[tuple]) -> list[tuple]:
    """The reference's three-stage fallback (etl/transform.py:202-211):
    exact id, then the fact id with leading zeros stripped, then the
    lookup id zero-filled to width 4."""
    stripped = fact_id.lstrip("0") or "0"
    for test in (
        lambda d: d == fact_id,
        lambda d: d == stripped,
        lambda d: d.zfill(4) == fact_id,
    ):
        rows = [r for r in lookup if test(r[2])]
        if rows:
            return rows
    return []


def expected_record(f: PoolFile, lookup: list[tuple]) -> dict:
    """The consolidated-JSON fields one pool must produce."""
    n = sum(f.counts.values())
    total = sum(w * c for w, c in f.counts.items())
    hits = sum(c for w, c in f.counts.items() if w > 0)
    rows = _lookup_match(f.pool_id, lookup)
    bet = rows[0][3] if rows else None
    rtp = hit = vol = mwf = None
    if bet is not None and bet > 0 and n > 0:
        rtp = bround(total / (n * bet) * 100, 2)
        hit = bround(hits / n * 100, 2)
        var = 0.0
        for w, c in sorted(f.counts.items()):
            diff = w / bet - rtp / 100
            var += bround((c / n) * diff * diff, 4)
        vol = bround(Z_90 * math.sqrt(var), 2)
    if bet is not None and bet > 0 and n > 0:
        mwf = max(f.counts) / bet
    pt = f.pool_type
    flat = len(pt) > 4 and pt.startswith("4")
    if pt == "395":
        tag = ["GAB", "PFB"]
    elif len(pt) > 4 and pt.startswith("5"):
        tag = ["PFB"]
    else:
        tag = ["REG"]
    return {
        "pool_name": f.file_name,
        "pool_id": f.pool_id,
        "pool_type": pt,
        "game_ids": [r[1] for r in rows],
        "min_bet": bet,
        "max_win_factor": mwf,
        "rtp": rtp,
        "volatility": vol,
        "is_flat": int(flat),
        "tag": tag,
        "size": n,
        "max_multiplier": pt[-4:] if flat else None,
        "folder_path": f.folder_path,
        "hit_frequency": hit,
    }


def expected_records(files: list[PoolFile], lookup: list[tuple]) -> dict[str, dict]:
    return {f.rel_path: expected_record(f, lookup) for f in files}


def expected_summary(records: dict[str, dict]) -> dict:
    """Fleet rollup (etl/transform.py:261-322) plus the run counters."""
    tags: Counter = Counter()
    folders: Counter = Counter()
    for rec in records.values():
        tags.update(rec["tag"])
        folders[rec["folder_path"].rsplit("/", 1)[-1]] += 1

    def stats(key):
        vals = [r[key] for r in records.values() if r[key] is not None]
        if not vals:
            return None
        return {"min": min(vals), "max": max(vals), "avg": bround(sum(vals) / len(vals), 2)}

    return {
        "files_processed": len(records),
        "files_succeeded": len(records),
        "files_failed": 0,
        "total_files_processed": len(records),
        "total_records_across_all_files": sum(r["size"] for r in records.values()),
        "tags_distribution": dict(tags),
        "files_by_folder": dict(folders),
        "rtp_stats": stats("rtp"),
        "volatility_stats": stats("volatility"),
    }
