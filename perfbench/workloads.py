"""Seeded inputs, FAME scripts and engine-free references for the benchmark.

Every input is derived from ``data/monthly_by_nation.csv`` (the sf0.1 TPC-H
monthly revenue and order count per nation, plus the two-goods quantity and
price series of ``QueriesCore.twoGoods``) and the workload seed. The
references never call the engine: the FAME batch models are replayed with
numpy over dense [entity, month] arrays, and the long script is replayed
statement by statement in plain Python floats, in script order.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# ------------------------------------------------------------------ sizes
ENTITIES = 1000          # fame_entities: keys x 80 months
LONG_SERIES = 40         # fame_long_script: input series
LONG_LEVELS = 10         # fame_long_script: Kahn levels of the random DAG
STREAM_KEYS = 1000       # fame_stream: keys
STREAM_CHUNKS = 5        # fame_stream: equal file-source chunks by date

CHAIN_BASE = 1996
NLRX_LAMBDA = 1600.0
REL_TOL = 1e-9


def load_base():
    """(nations, dates, {col: [nation, month] array}) from the bundled CSV."""
    with open(os.path.join(HERE, "data", "monthly_by_nation.csv")) as f:
        rows = list(csv.DictReader(f))
    nations = sorted({r["nation"] for r in rows})
    dates = sorted({r["date"] for r in rows})
    ni = {n: i for i, n in enumerate(nations)}
    di = {d: i for i, d in enumerate(dates)}
    cols = {c: np.zeros((len(nations), len(dates)))
            for c in ("rev", "cnt", "a", "pa", "b", "pb")}
    for r in rows:
        for c in cols:
            cols[c][ni[r["nation"]], di[r["date"]]] = float(r[c])
    return nations, [dt.date.fromisoformat(d) for d in dates], cols


def _date_array(dates, reps):
    return pa.array(np.tile(np.array(dates, dtype="datetime64[D]"), reps),
                    type=pa.date32())


# ------------------------------------------------------------ fame_entities

ENTITIES_SCRIPT = """freq m
rev_pct = pct(rev)
rev_diff = diff(rev)
rev_l2 = rev[t-2]
ticket = rev / cnt * 1000
date 1996-01-01 to 1999-12-01
rev_mid = rev * 1.5
date *
tot = lsum(rev, cnt, rev_l2)
scalar mrev = ave(rev)
rev_dev = rev - mrev
rev_base = rev["1996-06-01"]
rev_idx = rev / rev_base * 100
rev_q = convert(rev, q, discrete, sum)
set x = $chain("a + b", "1996")
sm = nlrx(1600, rev, rev, rev, rev, rev, rev, rev)
lvl = rev
date 1996-01-01 to 1997-06-01
lvl[t] = lvl[t+1]/(1+(pct(cnt[t+1])/100))
date *
"""

ENTITIES_OUT = ["REV_PCT", "REV_DIFF", "REV_L2", "TICKET", "REV_MID", "TOT",
                "REV_DEV", "REV_BASE", "REV_IDX", "REV_QTRLY", "X", "SM", "LVL"]


def keyed_panel(rng, n_keys):
    """Per-key scaled replicas of the nation panel: {col: [key, month]}."""
    _, dates, base = load_base()
    nat = np.arange(n_keys) % base["rev"].shape[0]
    t = len(dates)
    scale = np.exp(rng.normal(0.0, 0.25, n_keys))[:, None]
    goods = np.exp(rng.normal(0.0, 0.15, n_keys))[:, None]

    def noisy(x, sd):
        return x * (1.0 + sd * rng.standard_normal((n_keys, t)))

    cols = {
        "REV": np.maximum(noisy(base["rev"][nat] * scale, 0.03), 0.01),
        "CNT": np.maximum(np.round(noisy(base["cnt"][nat] * scale, 0.03)), 1.0),
        "A": np.maximum(noisy(base["a"][nat] * goods, 0.02), 1.0),
        "PA": noisy(base["pa"][nat], 0.01),
        "B": np.maximum(noisy(base["b"][nat] * goods, 0.02), 1.0),
        "PB": noisy(base["pb"][nat], 0.01),
    }
    return dates, cols


def panel_table(key_col, keys, dates, cols, months=None):
    sl = slice(None) if months is None else months
    ds = dates[sl]
    data = {key_col: pa.array(np.repeat(np.array(keys), len(ds))),
            "DATE": _date_array(ds, len(keys))}
    for c, v in cols.items():
        data[c] = pa.array(v[:, sl].reshape(-1))
    return pa.table(data)


def gen_entities(seed, workdir):
    rng = np.random.default_rng([seed, 1])
    dates, cols = keyed_panel(rng, ENTITIES)
    keys = [f"E{i:05d}" for i in range(ENTITIES)]
    pq.write_table(panel_table("ENTITY", keys, dates, cols),
                   os.path.join(workdir, "input.parquet"))
    return {"script": ENTITIES_SCRIPT, "dates": dates, "cols": cols,
            "key_values": keys}


def _lag(x, k):
    out = np.full_like(x, np.nan)
    out[:, k:] = x[:, :-k]
    return out


def _pct(x):
    prev = _lag(x, 1)
    return (x - prev) / prev * 100.0


def quarter_sums(x, dates):
    """`convert(x, q, discrete, sum)`: each quarter's sum on its first month
    (a quarter cut short by the end of the data sums what it has), null on
    the other months."""
    q = np.full_like(x, np.nan)
    quarter = [(d.year, (d.month - 1) // 3) for d in dates]
    for i, d in enumerate(dates):
        if d.month in (1, 4, 7, 10):
            q[:, i] = x[:, [j for j, k in enumerate(quarter) if k == quarter[i]]].sum(1)
    return q


def hp_smooth(y, lam):
    """Row-wise HP smoother: solve (I + lam D'D) x = y, D = 2nd difference,
    as one dense solve with every row (an independent series) a right-hand
    side."""
    e, n = y.shape
    d = np.zeros((n - 2, n))
    for r in range(n - 2):
        d[r, r:r + 3] = (1.0, -2.0, 1.0)
    a = np.eye(n) + lam * d.T @ d
    return np.linalg.solve(a, y.T).T


def chain_index(qa, pa_, qb, pb_, years, base_year):
    """Annual chain-linked Fisher volume index of two goods, rebased."""
    uy = sorted(set(years))
    idx = {}
    cols = []
    for y in uy:
        m = np.array([yy == y for yy in years])
        cols.append((qa[:, m].sum(1), pa_[:, m].mean(1),
                     qb[:, m].sum(1), pb_[:, m].mean(1)))
    raw = np.ones(qa.shape[0])
    raws = []
    prev = None
    for (sa, ma, sb, mb) in cols:
        if prev is None:
            fisher = np.ones_like(sa)
        else:
            psa, pma, psb, pmb = prev
            lasp = (pma * sa + pmb * sb) / (pma * psa + pmb * psb)
            paas = (ma * sa + mb * sb) / (ma * psa + mb * psb)
            prod = lasp * paas
            fisher = np.where(prod > 0, np.sqrt(np.abs(prod)), 1.0)
        raw = raw * fisher
        raws.append(raw.copy())
        prev = (sa, ma, sb, mb)
    base = raws[uy.index(base_year)]
    for y, r in zip(uy, raws):
        idx[y] = r / base * 100.0
    return np.stack([idx[y] for y in years], axis=1)


def entities_reference(dates, c):
    """numpy replay of ENTITIES_SCRIPT over [key, month] arrays."""
    rev, cnt = c["REV"], c["CNT"]
    d = np.array(dates, dtype="datetime64[D]")

    def rng_mask(lo, hi):
        return (d >= np.datetime64(lo)) & (d <= np.datetime64(hi))

    out = {}
    out["REV_PCT"] = _pct(rev)
    out["REV_DIFF"] = rev - _lag(rev, 1)
    out["REV_L2"] = _lag(rev, 2)
    out["TICKET"] = rev / cnt * 1000.0
    out["REV_MID"] = np.where(rng_mask("1996-01-01", "1999-12-01"),
                              rev * 1.5, np.nan)
    out["TOT"] = rev + cnt + np.nan_to_num(out["REV_L2"], nan=0.0)
    out["REV_DEV"] = rev - rev.mean(1, keepdims=True)
    base = rev[:, list(d).index(np.datetime64("1996-06-01"))][:, None]
    out["REV_BASE"] = np.broadcast_to(base, rev.shape)
    out["REV_IDX"] = rev / base * 100.0
    out["REV_QTRLY"] = quarter_sums(rev, dates)
    out["X"] = chain_index(c["A"], c["PA"], c["B"], c["PB"],
                           [x.year for x in dates], CHAIN_BASE)
    out["SM"] = hp_smooth(rev, NLRX_LAMBDA)
    lvl = rev.copy()
    lo = list(d).index(np.datetime64("1996-01-01"))
    hi = list(d).index(np.datetime64("1997-06-01"))
    f = 1.0 + _pct(cnt) / 100.0
    for i in range(hi - 1, lo - 1, -1):
        lvl[:, i] = lvl[:, i + 1] / f[:, i + 1]
    out["LVL"] = lvl
    return out


# --------------------------------------------------------- fame_long_script

class Stmt:
    """One generated statement: FAME text lines plus a Python replay."""

    def __init__(self, lines, run):
        self.lines = lines
        self.run = run


def _fmt(c):
    return repr(float(c))


def gen_long_program(rng, names_in, levels):
    """Random level-structured dependency DAG over the plain-assign surface.

    The statement mix per level is fixed (so every seed compiles to the same
    plan shape); operands, constants, masks and dates are drawn from the
    seed. Division and pct only ever take *level* series (positive by
    construction), the way FAME models apply them.
    """
    stmts = []
    lvl_series = {0: list(names_in)}   # level -> series defined at it
    is_level = {n: True for n in names_in}
    nullfree = {n: True for n in names_in}
    counter = [0]
    scalars = []                        # (name, level)

    def fresh():
        counter[0] += 1
        return f"v{counter[0]:03d}"

    def pick(pool):
        return pool[int(rng.integers(len(pool)))]

    def levels_pool(upto, want_level=True):
        return [n for l in range(upto + 1) for n in lvl_series[l]
                if is_level[n] or not want_level]

    def const(lo=0.25, hi=1.5):
        return round(float(rng.uniform(lo, hi)), 2)

    def month(lo_year, hi_year):
        y = int(rng.integers(lo_year, hi_year + 1))
        m = int(rng.integers(1, 13))
        return f"{y:04d}-{m:02d}-01"

    for l in range(1, levels + 1):
        prev = [n for n in lvl_series[l - 1] if is_level[n]]
        prev_any = lvl_series[l - 1]
        defined = []
        reads = set()
        reassigned = set()

        def use(n):
            reads.add(n)
            return n

        def emit(target, lines, fn, level, nf):
            stmts.append(Stmt(lines, fn))
            defined.append(target)
            is_level[target] = level
            nullfree[target] = nf

        older = levels_pool(l - 1)
        # 1. weighted sum
        a, b, c1 = use(pick(prev)), use(pick(older)), const()
        t = fresh()
        emit(t, [f"{t} = ({a} * {_fmt(c1)}) + {b}"],
             (lambda t, a, b, c1: lambda env: env.set(t, env.binop(
                 "+", env.binop("*", env[a], env.lit(c1)), env[b])))(t, a, b, c1),
             True, nullfree[a] and nullfree[b])
        # 2. ratio of levels
        a, b, c2 = use(pick(prev)), use(pick(older)), const(0.5, 2.0)
        t = fresh()
        emit(t, [f"{t} = ({a} / {b}) * {_fmt(c2)}"],
             (lambda t, a, b, c2: lambda env: env.set(t, env.binop(
                 "*", env.binop("/", env[a], env[b]), env.lit(c2))))(t, a, b, c2),
             True, nullfree[a] and nullfree[b])
        # 3. conditional
        a, b, c3 = use(pick(prev)), use(pick(older)), const(0.5, 1.0)
        t = fresh()
        emit(t, [f"{t} = if {a} gt {b} then {a} else ({b} * {_fmt(c3)})"],
             (lambda t, a, b, c3: lambda env: env.set(t, env.cond(
                 env.binop("gt", env[a], env[b]), env[a],
                 env.binop("*", env[b], env.lit(c3)))))(t, a, b, c3),
             True, nullfree[a] and nullfree[b])
        # 4. pct / diff of a level series
        a = use(pick(prev))
        t = fresh()
        if l % 2:
            emit(t, [f"{t} = pct({a})"],
                 (lambda t, a: lambda env: env.set(t, env.pct(env[a])))(t, a),
                 False, False)
        else:
            emit(t, [f"{t} = diff({a})"],
                 (lambda t, a: lambda env: env.set(t, env.binop(
                     "-", env[a], env.lag(env[a], 1))))(t, a),
                 False, False)
        # 5. lag
        a, k = use(pick(prev)), int(rng.integers(1, 4))
        t = fresh()
        emit(t, [f"{t} = {a}[t-{k}]"],
             (lambda t, a, k: lambda env: env.set(t, env.lag(env[a], k)))(t, a, k),
             is_level[a], False)
        # 6. lsum (null as zero)
        a, b = use(pick(prev)), use(pick(levels_pool(l - 1, False)))
        c = use(pick(levels_pool(l - 1, False)))
        t = fresh()
        emit(t, [f"{t} = lsum({a}, {b}, {c})"],
             (lambda t, a, b, c: lambda env: env.set(t, env.lsum(
                 [env[a], env[b], env[c]])))(t, a, b, c),
             is_level[a] and nullfree[a] and is_level[b] and is_level[c],
             True)
        # 7. elementwise min / max
        a, b = use(pick(prev)), use(pick(older))
        fn = "max" if l % 2 else "min"
        t = fresh()
        emit(t, [f"{t} = {fn}({a}, {b})"],
             (lambda t, a, b, fn: lambda env: env.set(t, env.minmax(
                 fn, [env[a], env[b]])))(t, a, b, fn),
             True, nullfree[a] or nullfree[b])
        # 8. signed difference (not a level series)
        a, b, c4 = use(pick(prev_any)), use(pick(levels_pool(l - 1, False))), const()
        t = fresh()
        emit(t, [f"{t} = ({a} - {b}) * {_fmt(c4)}"],
             (lambda t, a, b, c4: lambda env: env.set(t, env.binop(
                 "*", env.binop("-", env[a], env[b]), env.lit(c4))))(t, a, b, c4),
             False, False)
        # 9. masked new series (null outside the mask)
        if l % 3 == 0:
            a, c5 = use(pick(prev)), const()
            lo, hi = month(1995, 1997), month(1998, 2000)
            t = fresh()
            emit(t, [f"date {lo} to {hi}", f"{t} = {a} * {_fmt(c5)}", "date *"],
                 (lambda t, a, c5, lo, hi: lambda env: env.set(t, env.mask(
                     lo, hi, env.binop("*", env[a], env.lit(c5)), None)))(
                     t, a, c5, lo, hi),
                 True, False)
        # 10. scalar use: a level series over an earlier whole-series mean
        if scalars and scalars[-1][1] == l - 1:
            s = scalars[-1][0]
            a = use(pick(prev))
            t = fresh()
            emit(t, [f"{t} = {a} / {s}"],
                 (lambda t, a, s: lambda env: env.set(t, env.binop(
                     "/", env[a], env.scalar(s))))(t, a, s),
                 True, nullfree[a])
        # reassignments go last and touch only level l-1 series that no
        # statement of this level reads, so script order and Kahn order agree
        free = [n for n in prev if n not in reads and nullfree[n]]
        # 11. masked re-assignment that preserves values outside the mask
        if l % 4 == 1 and l > 1 and free:
            y = free.pop(int(rng.integers(len(free))))
            a, c6 = use(pick(prev)), const(0.5, 1.0)
            lo, hi = month(1996, 1997), month(1998, 1999)
            stmts.append(Stmt(
                [f"date {lo} to {hi}", f"{y} = ({y} * {_fmt(c6)}) + {a}",
                 "date *"],
                (lambda y, a, c6, lo, hi: lambda env: env.set(y, env.mask(
                    lo, hi, env.binop("+", env.binop("*", env[y], env.lit(c6)),
                                      env[a]), env[y])))(y, a, c6, lo, hi)))
            nullfree[y] = nullfree[y] and nullfree[a]
            reassigned.add(y)
        # 12. point-in-time edit
        if l % 5 == 2 and free:
            y = free.pop(int(rng.integers(len(free))))
            a, c7 = use(pick(prev)), const()
            when = month(1996, 2000)
            stmts.append(Stmt(
                [f"{y}[{when}] = {a} * {_fmt(c7)}"],
                (lambda y, a, c7, when: lambda env: env.set(y, env.pit(
                    when, env.binop("*", env[a], env.lit(c7)), env[y])))(
                    y, a, c7, when)))
            nullfree[y] = nullfree[y] and nullfree[a]
            reassigned.add(y)
        # 13. unkeyed whole-series mean as a driver-side scalar
        if l % 6 == 3:
            a = pick([n for n in prev if nullfree[n] and n not in reassigned]
                     or [n for n in prev if n not in reassigned])
            s = f"m{l:02d}"
            stmts.append(Stmt(
                [f"scalar {s} = ave({a})"],
                (lambda s, a: lambda env: env.set_scalar(s, env.ave(env[a])))(s, a)))
            scalars.append((s, l))
        lvl_series[l] = defined
    return stmts


class Env:
    """Plain-Python replay of the compiled column semantics (None = null)."""

    def __init__(self, dates, cols):
        self.dates = dates
        self.n = len(dates)
        self.cols = {k.upper(): v for k, v in cols.items()}
        self.scalars = {}

    def __getitem__(self, name):
        return self.cols[name.upper()]

    def set(self, name, v):
        self.cols[name.upper()] = v

    def set_scalar(self, name, v):
        self.scalars[name.upper()] = v

    def scalar(self, name):
        return [self.scalars[name.upper()]] * self.n

    def lit(self, c):
        return [c] * self.n

    @staticmethod
    def _op(op, x, y):
        if x is None or y is None:
            return None
        if op == "+":
            return x + y
        if op == "-":
            return x - y
        if op == "*":
            return x * y
        if op == "/":
            return x / y        # ZeroDivisionError mirrors ANSI DIVIDE_BY_ZERO
        if op == "gt":
            return x > y
        raise ValueError(op)

    def binop(self, op, a, b):
        return [self._op(op, x, y) for x, y in zip(a, b)]

    def cond(self, c, a, b):
        return [x if k else y for k, x, y in zip(c, a, b)]

    def lag(self, a, k):
        return [None] * k + a[:-k]

    def pct(self, a):
        p = self.lag(a, 1)
        return [None if x is None or y is None else (x - y) / y * 100.0
                for x, y in zip(a, p)]

    def lsum(self, args):
        out = []
        for vals in zip(*args):
            s = vals[0] if vals[0] is not None else 0.0
            for v in vals[1:]:
                s = s + (v if v is not None else 0.0)
            out.append(s)
        return out

    def minmax(self, fn, args):
        out = []
        for vals in zip(*args):
            vs = [v for v in vals if v is not None]
            out.append(None if not vs else (max(vs) if fn == "max" else min(vs)))
        return out

    def _in(self, i, lo, hi):
        d = self.dates[i]
        return (lo is None or d >= dt.date.fromisoformat(lo)) and \
            (hi is None or d <= dt.date.fromisoformat(hi))

    def mask(self, lo, hi, v, old):
        return [v[i] if self._in(i, lo, hi) else (old[i] if old else None)
                for i in range(self.n)]

    def pit(self, when, v, old):
        d = dt.date.fromisoformat(when)
        return [v[i] if self.dates[i] == d else old[i] for i in range(self.n)]

    def ave(self, a):
        s, c = 0.0, 0
        for v in a:
            if v is not None:
                s += v
                c += 1
        return s / c if c else None


def gen_long(seed, workdir):
    rng = np.random.default_rng([seed, 2])
    _, dates, base = load_base()
    nat = rng.integers(0, base["rev"].shape[0], LONG_SERIES)
    scale = np.exp(rng.normal(0.0, 0.5, LONG_SERIES))[:, None]
    vals = base["rev"][nat] * scale * (
        1.0 + 0.05 * rng.standard_normal((LONG_SERIES, len(dates))))
    vals = np.maximum(vals, 0.01)
    names = [f"s{i + 1:02d}" for i in range(LONG_SERIES)]
    data = {"DATE": _date_array(dates, 1)}
    for i, n in enumerate(names):
        data[n.upper()] = pa.array(vals[i])
    pq.write_table(pa.table(data), os.path.join(workdir, "input.parquet"))
    prog = gen_long_program(rng, names, LONG_LEVELS)
    script = "freq m\n" + "\n".join(l for s in prog for l in s.lines) + "\n"
    inputs = {n: [float(v) for v in vals[i]] for i, n in enumerate(names)}
    return {"script": script, "program": prog, "dates": dates,
            "inputs": inputs}


def long_reference(gen):
    """Replays the generated program in script order: {COL: [values]}."""
    env = Env(gen["dates"], gen["inputs"])
    for s in gen["program"]:
        s.run(env)
    return env.cols


# -------------------------------------------------------------- fame_stream

STREAM_SCRIPT = """freq m
l1 = rev[t-1]
l2 = l1[t-1]
g = rev - l2
date 1996-02-01 to *
rb = rev / rev["1996-01-01"] * 100
date *
rq = convert(rev, q, discrete, sum)
"""


def stream_months(n_months):
    """Month index ranges of the equal-sized chunks, oldest first."""
    cuts = [round(n_months * i / STREAM_CHUNKS) for i in range(STREAM_CHUNKS + 1)]
    return list(zip(cuts, cuts[1:]))


def gen_stream(seed, workdir):
    rng = np.random.default_rng([seed, 3])
    dates, cols = keyed_panel(rng, STREAM_KEYS)
    cols = {"REV": cols["REV"], "CNT": cols["CNT"]}
    keys = [f"K{i:05d}" for i in range(STREAM_KEYS)]
    for i, (lo, hi) in enumerate(stream_months(len(dates))):
        part = os.path.join(workdir, "chunks", f"chunk={i}")
        os.makedirs(part)
        pq.write_table(panel_table("KEY", keys, dates, cols, slice(lo, hi)),
                       os.path.join(part, "data.parquet"))
    return {"script": STREAM_SCRIPT, "dates": dates, "cols": cols,
            "key_values": keys}


def stream_reference(dates, c):
    rev = c["REV"]
    d = np.array(dates, dtype="datetime64[D]")
    out = {"L1": _lag(rev, 1), "L2": _lag(rev, 2)}
    out["G"] = rev - out["L2"]
    base = rev[:, list(d).index(np.datetime64("1996-01-01"))][:, None]
    out["RB"] = np.where(d >= np.datetime64("1996-02-01"),
                         rev / base * 100.0, np.nan)
    out["REV_QTRLY"] = quarter_sums(rev, dates)
    return out


# ------------------------------------------------------------------ compare

def read_panel(path, key_col, cols):
    """Engine output as ({col: [key, month] array}, keys, dates)."""
    t = pq.read_table(path, columns=([key_col] if key_col else []) + ["DATE"] + cols)
    keys = sorted(set(t.column(key_col).to_pylist())) if key_col else [None]
    dates = sorted(set(t.column("DATE").to_pylist()))
    ki = {k: i for i, k in enumerate(keys)}
    di = {d: i for i, d in enumerate(dates)}
    kk = t.column(key_col).to_pylist() if key_col else [None] * t.num_rows
    rows = [ki[k] for k in kk]
    cix = [di[d] for d in t.column("DATE").to_pylist()]
    out = {}
    for c in cols:
        a = np.full((len(keys), len(dates)), np.nan)
        v = t.column(c).to_numpy(zero_copy_only=False).astype(float)
        a[rows, cix] = v
        out[c] = a
    return out, keys, dates, t.num_rows


def compare_arrays(got, want, label):
    """Number of cells that differ beyond REL_TOL, with a few examples."""
    bad = []
    g_nan, w_nan = np.isnan(got), np.isnan(want)
    diff = np.abs(got - want) > REL_TOL * np.maximum(
        1.0, np.maximum(np.abs(np.nan_to_num(got)), np.abs(np.nan_to_num(want))))
    wrong = (g_nan != w_nan) | (~g_nan & ~w_nan & diff)
    n = int(wrong.sum())
    if n:
        idx = np.argwhere(wrong)[:3]
        bad = [f"{label}[{i},{j}] got {got[i, j]!r} want {want[i, j]!r}"
               for i, j in idx]
    return n, bad


def check_stream(out, gen):
    """Emitted rows must equal the whole-history reference, minus the rows
    each key still holds back at the end of the stream."""
    cols = ["L1", "L2", "G", "RB", "REV_QTRLY"]
    t = pq.read_table(out, columns=["KEY", "DATE"] + cols)
    keys, dates = gen["key_values"], gen["dates"]
    ki = {k: i for i, k in enumerate(keys)}
    di = {d: i for i, d in enumerate(dates)}
    want = stream_reference(dates, gen["cols"])
    rows = np.array([ki[k] for k in t.column("KEY").to_pylist()])
    cix = np.array([di[d] for d in t.column("DATE").to_pylist()])
    errors = []
    seen = np.zeros((len(keys), len(dates)), dtype=int)
    np.add.at(seen, (rows, cix), 1)
    if (seen > 1).any():
        errors.append(f"{int((seen > 1).sum())} rows emitted more than once")
    # the bucketed m->q convert holds back each key's rows of the quarter
    # that is still open when the stream ends (its sum is not final yet)
    last = dates[-1]
    open_q = [i for i, d in enumerate(dates)
              if (d.year, (d.month - 1) // 3) == (last.year, (last.month - 1) // 3)]
    if last.month % 3 == 0:
        open_q = []
    expect_held = np.zeros_like(seen, dtype=bool)
    expect_held[:, open_q] = True
    if ((seen == 0) != expect_held).any():
        n = int(((seen == 0) != expect_held).sum())
        errors.append(f"{n} rows emitted or held against the reference: "
                      f"expected each key to hold {len(open_q)} open-quarter rows")
    for c in cols:
        got = t.column(c).to_numpy(zero_copy_only=False).astype(float)
        w = want[c][rows, cix]
        g = np.full((1, len(got)), np.nan)
        g[0] = got
        n, bad = compare_arrays(g, w[None, :], c)
        if n:
            errors.append(f"{c}: {n} cells differ: {bad}")
    return errors
