"""Seeded input generators for the benchmark workloads.

Two families, both written as parquet with pyarrow so generation never
touches the engine under test:

* ``write_star_tables`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that every registry query reads. Row
  counts scale with ``sf`` (lineitem = 6M x sf) and the value
  distributions follow the tables the registry was written against:
  uniform keys, cent-quantized prices, a sorted event clock, a 30-word
  document vocabulary with 5% near-duplicate documents, and unit-norm
  64-d embeddings.
* ``League`` — a KBO-shaped league (teams, stadiums, hitters, pitchers)
  whose season advances one game day at a time. Its table builders give
  either the season-to-date state or only today's rows, so the same
  object yields the nightly batch's starting tables, each day's landed
  batch, and the expected state of every upserted table.

The same seed always yields the same bytes-for-bytes row content.
"""

from __future__ import annotations

import datetime as dt
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_US_PER_DAY = 86_400_000_000


def _ts(base: dt.date, micros: np.ndarray) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days * _US_PER_DAY
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n, endpoint=True) / 100


def star_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n, endpoint=True)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(_VOCAB[w] for w in words[e - k : e]) for e, k in zip(ends, lengths)
    ]
    # 5% near-duplicates: another document's text with one token appended
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, np.int64), pa.int32())


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, np.int64), pa.int64())


def star_table(name: str, sf: float, seed: int) -> pa.Table:
    """One star-schema table. Each table draws from its own random
    stream, so any subset can be generated alone."""
    n = star_rows(sf)
    rng = np.random.default_rng([seed, STAR_TABLES.index(name)])

    def choice(xs, k):
        return np.asarray(xs, dtype=object)[rng.integers(0, len(xs), k)]

    k = n[name]
    if name == "region":
        return pa.table({"r_regionkey": _i32(np.arange(5)), "r_name": _REGIONS})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": _i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": _i32(np.arange(25) % 5),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": _i64(np.arange(k)),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": _i32(rng.integers(0, 25, k)),
                "c_acctbal": _cents(rng, -999.99, 9999.99, k),
                "c_mktsegment": choice(_SEGMENTS, k),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": _i64(np.arange(k)),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": _i32(rng.integers(0, 25, k)),
                "s_acctbal": _cents(rng, -999.99, 9999.99, k),
            }
        )
    if name == "part":
        return pa.table(
            {
                "p_partkey": _i64(np.arange(k)),
                "p_name": choice([f"{a} {b}" for a in _ADJ for b in _NOUN], k),
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
                "p_type": choice(_PTYPES, k),
                "p_size": _i32(rng.integers(1, 51, k)),
                "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": _i64(np.arange(k)),
                "o_custkey": _i64(rng.integers(0, n["customer"], k)),
                "o_orderstatus": choice(["F", "O", "P"], k),
                "o_totalprice": _cents(rng, 1000, 500_000, k),
                "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, 2405, k) * _US_PER_DAY),
                "o_orderpriority": choice(_PRIORITIES, k),
            }
        )
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": _i64(rng.integers(0, n["orders"], k)),
                "l_partkey": _i64(rng.integers(0, n["part"], k)),
                "l_suppkey": _i64(rng.integers(0, n["supplier"], k)),
                "l_linenumber": _i32(rng.integers(1, 8, k)),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _cents(rng, 900, 105_000, k),
                "l_discount": rng.integers(0, 11, k) / 100,
                "l_tax": rng.integers(0, 9, k) / 100,
                "l_returnflag": choice(["A", "N", "R"], k),
                "l_linestatus": choice(["F", "O"], k),
                "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, 2499, k) * _US_PER_DAY),
            }
        )
    if name == "events":
        return pa.table(
            {
                "event_id": _i64(np.arange(k)),
                "ts": _ts(dt.date(2024, 1, 1), np.sort(rng.integers(0, 30 * _US_PER_DAY, k))),
                "user_id": _i64(rng.integers(0, max(1, int(15_000 * sf)), k)),
                "event_type": choice(_EVENT_TYPES, k),
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
            }
        )
    if name == "documents":
        return _documents(rng, k)
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": _i64(np.arange(k)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, k)),
        }
    )


def write_star_tables(out_dir: str, sf: float, seed: int, tables=STAR_TABLES) -> int:
    """Write ``<out_dir>/<table>.parquet`` for each table; returns the
    bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        pq.write_table(star_table(name, sf, seed), f"{out_dir}/{name}.parquet")
    return dir_bytes(out_dir)


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total




# ---------------------------------------------------------------------------
# KBO-shaped league for the nightly batch
# ---------------------------------------------------------------------------

# season-total counters, in schemas.HITTERS / schemas.PITCHERS order
_HIT = (
    "games pa ab runs hits doubles triples hr total_bases rbi sb cs sac sf bb "
    "ibb hbp so gdp mh errors"
).split()
_PIT = (
    "games wins losses sv hld hits hr bb hbp so runs er cg sho qs bsv tbf np "
    "2b 3b sac sf ibb wp bk outs"
).split()
_HIT_SPLIT = "ab runs hits doubles triples hr rbi sb cs bb hbp so gdp".split()
_PIT_SPLIT = "tbf hits hr bb hbp so runs er outs".split()


def _rate(num, den) -> pa.Array:
    """3-decimal rate, NULL where the denominator is 0 (the scraped '-')."""
    num, den = np.asarray(num, np.float64), np.asarray(den, np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = np.round(num / den, 3)
    return pa.array(r, pa.float64(), mask=den <= 0)


def _ip(outs: int) -> str:
    """Innings pitched the KBO way: 17 outs -> '5 2/3'."""
    whole, frac = divmod(int(outs), 3)
    if not frac:
        return str(whole)
    return f"{whole} {frac}/3" if whole else f"{frac}/3"


def _era(er, outs) -> list[str]:
    return [f"{e * 27 / o:.2f}" if o else "-" for e, o in zip(er, outs)]


def _hit_rates(c: dict) -> dict:
    tb = c["hits"] + c["doubles"] + 2 * c["triples"] + 3 * c["hr"]
    return {
        "avg": _rate(c["hits"], c["ab"]),
        "obp": _rate(c["hits"] + c["bb"] + c["hbp"], c["ab"] + c["bb"] + c["hbp"]),
        "slg": _rate(tb, c["ab"]),
    }


class League:
    """A seeded league whose season advances one game day per ``advance``.

    Every team plays once a day. The league keeps season totals, per-game
    logs and opponent/stadium splits, so the landed tables it writes are
    the expected state of the engine's upserted tables."""

    def __init__(self, seed: int, teams: int, hitters_per_team: int,
                 pitchers_per_team: int, history_days: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.teams = [f"T{i:02d}" for i in range(teams)]
        # one park per team; the last two teams share one, as two KBO
        # clubs share Jamsil
        self.park = [f"S{min(i, teams - 2):02d}" for i in range(teams)]
        self.h_team = np.repeat(np.arange(teams), hitters_per_team)
        self.p_team = np.repeat(np.arange(teams), pitchers_per_team)
        self.h_tot = np.zeros((len(self.h_team), len(_HIT)), np.int64)
        self.p_tot = np.zeros((len(self.p_team), len(_PIT)), np.int64)
        self.h_day = np.zeros(len(self.h_team), np.int64)
        self.p_day = np.zeros(len(self.p_team), np.int64)
        self.splits: dict[tuple, np.ndarray] = {}
        self.games: list[tuple] = []
        self.h_games: list[tuple] = []
        self.p_games: list[tuple] = []
        self.lineup: list[tuple] = []
        self.day = 0
        for _ in range(history_days):
            self.advance()

    def date(self, day: int | None = None) -> dt.date:
        return dt.date(2025, 3, 22) + dt.timedelta(days=self.day if day is None else day)

    def advance(self) -> None:
        rng = self.rng
        self.day += 1
        date = self.date()
        start = dt.datetime(date.year, date.month, date.day, 18, 30)
        order = rng.permutation(len(self.teams))
        self.lineup = []
        for g in range(len(order) // 2):
            away, home = int(order[2 * g]), int(order[2 * g + 1])
            park = self.park[home]
            runs = {}
            starters = {}
            for team, opp in ((away, home), (home, away)):
                batters = rng.choice(np.flatnonzero(self.h_team == team), 9, replace=False)
                starters[team] = int(rng.choice(np.flatnonzero(self.p_team == team)))
                runs[team] = sum(self._bat(int(b), opp, park, date) for b in batters)
                self.lineup.append((start, f"P{starters[team]:05d}", team, 0, opp, park))
                self.lineup += [
                    (start, f"H{int(b):05d}", team, i + 1, opp, park) for i, b in enumerate(batters)
                ]
            for team, opp in ((away, home), (home, away)):
                self._pitch(starters[team], opp, park, date, runs[opp], won=runs[team] > runs[opp])
            self.games.append(
                (start, self.teams[away], runs[away], self.teams[home], runs[home], park)
            )

    def _bat(self, h: int, opp: int, park: str, date: dt.date) -> int:
        rng = self.rng
        pa_ = int(rng.integers(3, 6))
        bb = int(rng.binomial(pa_, 0.09))
        hbp = int(rng.binomial(pa_ - bb, 0.01))
        sf = int(rng.binomial(pa_ - bb - hbp, 0.02))
        ab = pa_ - bb - hbp - sf
        hits = int(rng.binomial(ab, 0.27))
        hr = int(rng.binomial(hits, 0.1))
        dbl = int(rng.binomial(hits - hr, 0.2))
        tpl = int(rng.binomial(hits - hr - dbl, 0.03))
        runs = int(rng.binomial(hits + bb, 0.35))
        line = {
            "games": 1, "pa": pa_, "ab": ab, "runs": runs, "hits": hits,
            "doubles": dbl, "triples": tpl, "hr": hr,
            "total_bases": hits + dbl + 2 * tpl + 3 * hr,
            "rbi": int(rng.binomial(hits, 0.4)) + hr,
            "sb": int(rng.binomial(1, 0.1)), "cs": int(rng.binomial(1, 0.03)),
            "sac": 0, "sf": sf, "bb": bb, "ibb": int(rng.binomial(bb, 0.1)),
            "hbp": hbp, "so": int(rng.binomial(ab - hits, 0.25)),
            "gdp": int(rng.binomial(1, 0.08)), "mh": int(hits >= 2),
            "errors": int(rng.binomial(1, 0.02)),
        }
        self.h_tot[h] += [line[c] for c in _HIT]
        self.h_day[h] = self.day
        split = np.array([line[c] for c in _HIT_SPLIT], np.int64)
        for key in (("h", "opp", h, self.teams[opp]), ("h", "std", h, park)):
            self.splits[key] = self.splits.get(key, 0) + split
        self.h_games.append((h, date, self.teams[opp], *split.tolist()))
        return runs

    def _pitch(self, p: int, opp: int, park: str, date: dt.date, runs: int, won: bool) -> None:
        rng = self.rng
        outs = int(rng.integers(3, 22))
        hits = int(rng.integers(0, 9))
        bb = int(rng.integers(0, 5))
        line = {c: 0 for c in _PIT}
        line.update(
            games=1, wins=int(won), losses=int(not won), hits=hits,
            hr=int(rng.binomial(hits, 0.1)), bb=bb, so=int(rng.binomial(outs, 0.3)),
            runs=runs, er=int(rng.binomial(runs, 0.85)), qs=int(outs >= 18),
            tbf=outs + hits + bb, np=4 * (outs + hits + bb), outs=outs,
            **{"2b": int(rng.binomial(hits, 0.2))},
        )
        self.p_tot[p] += [line[c] for c in _PIT]
        self.p_day[p] = self.day
        split = np.array([line[c] for c in _PIT_SPLIT], np.int64)
        for key in (("p", "opp", p, self.teams[opp]), ("p", "std", p, park)):
            self.splits[key] = self.splits.get(key, 0) + split
        self.p_games.append((p, date, self.teams[opp], "W" if won else "L", *split.tolist()))

    # -- landed tables (column order = schemas.DOMAIN_SCHEMAS) ----------

    def _stamp(self, days) -> pa.Array:
        return pa.array(
            [dt.datetime.combine(self.date(int(d)), dt.time(23)) for d in days],
            pa.timestamp("us"),
        )

    def hitters(self, today_only: bool = False) -> pa.Table:
        idx = np.flatnonzero(self.h_day == self.day) if today_only else np.arange(len(self.h_team))
        c = {name: self.h_tot[idx, i] for i, name in enumerate(_HIT)}
        r = _hit_rates(c)
        cols = {
            "hitter_id": _i32(idx),
            "player_name": [f"H{i:05d}" for i in idx],
            "team_name": [self.teams[t] for t in self.h_team[idx]],
            "avg": r["avg"],
        }
        cols.update({k: _i32(c[k]) for k in _HIT[:19]})
        cols.update(slg=r["slg"], obp=r["obp"], ops=_ops(r), mh=_i32(c["mh"]), risp=r["avg"])
        cols["ph_ba"] = pa.nulls(len(idx), pa.float64())
        cols["errors"] = _i32(c["errors"])
        cols["sb_percentage"] = _rate(c["sb"], c["sb"] + c["cs"])
        cols["updated_at"] = self._stamp(self.h_day[idx])
        return pa.table(cols)

    def pitchers(self) -> pa.Table:
        idx = np.arange(len(self.p_team))
        c = {name: self.p_tot[idx, i] for i, name in enumerate(_PIT)}
        cols = {
            "pitcher_id": _i32(idx),
            "player_name": [f"P{i:05d}" for i in idx],
            "team_name": [self.teams[t] for t in self.p_team[idx]],
            "era": _era(c["er"], c["outs"]),
        }
        cols.update({k: _i32(c[k]) for k in ("games", "wins", "losses", "sv", "hld")})
        cols["wpct"] = _rate(c["wins"], c["wins"] + c["losses"])
        cols["ip"] = [_ip(o) for o in c["outs"]]
        cols.update({k: _i32(c[k]) for k in ("hits", "hr", "bb", "hbp", "so", "runs", "er")})
        cols["whip"] = _rate(3 * (c["bb"] + c["hits"]), c["outs"])
        cols.update({k: _i32(c[k]) for k in ("cg", "sho", "qs", "bsv", "tbf", "np")})
        cols["avg"] = _rate(c["hits"], c["tbf"] - c["bb"] - c["hbp"])
        cols.update({k: _i32(c[k]) for k in ("2b", "3b", "sac", "sf", "ibb", "wp", "bk")})
        cols["updated_at"] = self._stamp(self.p_day[idx])
        return pa.table(cols)

    def game_records(self) -> pa.Table:
        g = list(zip(*self.games))
        return pa.table(
            {
                "game_date": pa.array(g[0], pa.timestamp("us")),
                "away_team": pa.array(g[1], pa.string()),
                "away_score": _i32(g[2]),
                "home_team": pa.array(g[3], pa.string()),
                "home_score": _i32(g[4]),
                "stadium": pa.array(g[5], pa.string()),
            }
        )

    def hitter_games(self, today_only: bool = False) -> pa.Table:
        rows = [r for r in self.h_games if not today_only or r[1] == self.date()]
        return _hitter_split_table(rows, "hitter_id", ["game_date", "opponent_team"])

    def pitcher_games(self) -> pa.Table:
        g = list(zip(*self.p_games))
        cols = {
            "pitcher_id": _i32(g[0]),
            "game_date": pa.array(g[1], pa.date32()),
            "opponent_team": pa.array(g[2], pa.string()),
            "result": pa.array(g[3], pa.string()),
        }
        cols.update(_pitcher_split_cols(dict(zip(_PIT_SPLIT, (np.asarray(x) for x in g[4:])))))
        return pa.table(cols)

    def split_tables(self) -> dict[str, pa.Table]:
        """Season-to-date opponent/stadium splits, re-landed whole each day."""
        out = {}
        for role, kind, table, col in (
            ("h", "opp", "hitter_opponents", "opponent_team"),
            ("h", "std", "hitter_stadiums", "stadium"),
            ("p", "opp", "pitcher_opponents", "opponent_team"),
            ("p", "std", "pitcher_stadiums", "stadium"),
        ):
            keys = sorted(k for k in self.splits if k[0] == role and k[1] == kind)
            rows = [(k[2], k[3], *self.splits[k].tolist()) for k in keys]
            if role == "h":
                out[table] = _hitter_split_table(rows, "hitter_id", [col])
            else:
                g = list(zip(*rows))
                cols = {"pitcher_id": _i32(g[0]), col: pa.array(g[1], pa.string())}
                cols.update(_pitcher_split_cols(dict(zip(_PIT_SPLIT, (np.asarray(x) for x in g[2:])))))
                out[table] = pa.table(cols)
        return out

    def today_lineup(self) -> pa.Table:
        g = list(zip(*self.lineup))
        return pa.table(
            {
                "game_date": pa.array(g[0], pa.timestamp("us")),
                "player": pa.array(g[1], pa.string()),
                "team": [self.teams[t] for t in g[2]],
                "position": _i32(g[3]),
                "opponent": [self.teams[t] for t in g[4]],
                "stadium": pa.array(g[5], pa.string()),
            }
        )


def _ops(r: dict) -> pa.Array:
    obp, slg = r["obp"].to_numpy(zero_copy_only=False), r["slg"].to_numpy(zero_copy_only=False)
    return pa.array(np.round(obp + slg, 3), pa.float64(), mask=np.isnan(obp) | np.isnan(slg))


def _hitter_split_table(rows, id_col: str, key_cols: list[str]) -> pa.Table:
    g = list(zip(*rows))
    cols = {id_col: _i32(g[0])}
    for i, k in enumerate(key_cols):
        cols[k] = pa.array(g[1 + i], pa.date32() if k == "game_date" else pa.string())
    c = {name: np.asarray(g[1 + len(key_cols) + i]) for i, name in enumerate(_HIT_SPLIT)}
    cols.update({k: _i32(c[k]) for k in _HIT_SPLIT})
    r = _hit_rates(c)
    cols.update(avg=r["avg"], obp=r["obp"], slg=r["slg"], ops=_ops(r))
    return pa.table(cols)


def _pitcher_split_cols(c: dict) -> dict:
    cols = {"era": _era(c["er"], c["outs"]), "tbf": _i32(c["tbf"]), "ip": [_ip(o) for o in c["outs"]]}
    cols.update({k: _i32(c[k]) for k in ("hits", "hr", "bb", "hbp", "so", "runs", "er")})
    cols["avg"] = _rate(c["hits"], c["tbf"] - c["bb"] - c["hbp"])
    return cols
