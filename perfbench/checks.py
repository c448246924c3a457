"""Output checks, made apart from the program.

DBN workloads: a CD-1 and propagation reference written from the
documented semantics, not calling the program: java.util.Random Gaussian
W0 x 0.1 (filled column-major, as Breeze's DenseMatrix.fill does), the
hidden-state draw `p > md5("cd1:<seed>:<id>:<j>")[:15 hex] mod 1e6 / 1e6`,
epsilon 0.1, zero biases, W += epsilon / N * sum(x p' - v' q') per epoch,
and propagation floor(255 * sigmoid(x W)) / 255 between layers.

Registry: each query's full output against its DuckDB twin from
`SparkEntry.oracleSql`, compared exactly (columns sorted by name, same
row order, same dtypes, float values bit-equal up to NaN == NaN and with
the sign of zero told apart).

Every check returns a list of problems; an empty list is a pass.
"""
import glob
import hashlib
import math
import os

import numpy as np

EPSILON = 0.1
# Weights agree within this absolute tolerance: the program merges
# per-partition gradients in completion order, so sums differ from the
# reference in the last bits (~1e-17 on weights of ~0.1).
WEIGHT_TOL = 1e-9
# A hidden-state draw whose probability lies within RESUM_MARGIN of its
# threshold is re-summed in the program's order; within DRAW_MARGIN after
# that, it could fall either way under those last-bit differences.
RESUM_MARGIN = 1e-11
DRAW_MARGIN = 1e-14
# A quantized value whose 255*sigmoid lies this close to an integer
# could floor either way.
QUANT_MARGIN = 1e-9


# --- reference CD-1 -------------------------------------------------------

class JavaRandom:
    """java.util.Random: the 48-bit LCG and its polar nextGaussian."""
    MULT, ADD, MASK = 0x5DEECE66D, 0xB, (1 << 48) - 1

    def __init__(self, seed: int):
        self.seed = (seed ^ self.MULT) & self.MASK
        self.spare = None

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * self.MULT + self.ADD) & self.MASK
        return self.seed >> (48 - bits)

    def next_double(self) -> float:
        return ((self._next(26) << 27) + self._next(27)) * (1.0 / (1 << 53))

    def next_gaussian(self) -> float:
        if self.spare is not None:
            g, self.spare = self.spare, None
            return g
        while True:
            v1 = 2 * self.next_double() - 1
            v2 = 2 * self.next_double() - 1
            s = v1 * v1 + v2 * v2
            if 0 < s < 1:
                break
        mult = math.sqrt(-2 * math.log(s) / s)
        self.spare = v2 * mult
        return v1 * mult


def init_weights(d: int, h: int, seed: int) -> np.ndarray:
    rnd = JavaRandom(seed)
    g = np.array([0.1 * rnd.next_gaussian() for _ in range(d * h)])
    return g.reshape(h, d).T.copy()  # column-major fill


def thresholds(ids: np.ndarray, h: int, seed: int) -> np.ndarray:
    out = np.empty((len(ids), h))
    for n, i in enumerate(ids.tolist()):
        for j in range(h):
            hx = hashlib.md5(f"cd1:{seed}:{i}:{j}".encode()).hexdigest()
            out[n, j] = (int(hx[:15], 16) % 1000000) / 1.0e6
    return out


def sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def exact_prob(x_row: np.ndarray, w: np.ndarray, j: int) -> float:
    """One hidden probability summed in the program's order (i = 0..d-1)."""
    s = 0.0
    for i in range(len(x_row)):
        s += float(x_row[i]) * float(w[i, j])
    return 1.0 / (1.0 + math.exp(-s))


def cd1_layer(x, w0, thr, epochs, flips=frozenset()):
    """Trains one layer; returns (weights, ambiguous draws).

    A draw near its threshold is recomputed in the program's summation
    order; if it is still within DRAW_MARGIN it is ambiguous, and
    `flips` (epoch, n, j) inverts it.
    """
    w = w0.copy()
    ambiguous = []
    n = x.shape[0]
    for e in range(epochs):
        pos = sigmoid(x @ w)
        near = np.argwhere(np.abs(pos - thr) < RESUM_MARGIN)
        for a, b in near:
            pos[a, b] = exact_prob(x[a], w, b)
        states = (pos > thr).astype(np.float64)
        for a, b in near:
            if abs(pos[a, b] - thr[a, b]) < DRAW_MARGIN:
                ambiguous.append((e, int(a), int(b)))
                if (e, int(a), int(b)) in flips:
                    states[a, b] = 1.0 - states[a, b]
        neg = sigmoid(states @ w.T)
        neghid = sigmoid(neg @ w)
        grad = x.T @ pos - neg.T @ neghid
        w = w + grad * (EPSILON / n) - w * 0.0
    return w, ambiguous


def propagate(x, w):
    return np.floor(255.0 * sigmoid(x @ w)) / 255.0


def cached(cache_dir, key, make):
    """make(), memoised as a .npy file under cache_dir (when given)."""
    if cache_dir is None:
        return make()
    path = os.path.join(cache_dir, hashlib.sha1(key).hexdigest() + ".npy")
    if os.path.exists(path):
        return np.load(path)
    value = make()
    os.makedirs(cache_dir, exist_ok=True)
    np.save(path + ".tmp.npy", value)
    os.replace(path + ".tmp.npy", path)
    return value


def reference_stack(x, ids, layers, epochs, seed, cache_dir=None):
    """Per layer: its input, W0, thresholds and trained weights. W0 and
    the thresholds depend only on sizes, ids and seeds, so they may be
    memoised across runs in cache_dir.
    """
    out = []
    for k in range(len(layers) - 1):
        d, h, s = layers[k], layers[k + 1], seed + k
        r = {"x": x, "epochs": epochs,
             "w0": cached(cache_dir, f"w0:{d}:{h}:{s}".encode(),
                          lambda: init_weights(d, h, s)),
             "thr": cached(cache_dir, f"thr:{h}:{s}:".encode() + ids.tobytes(),
                           lambda: thresholds(ids, h, s))}
        r["w"], r["ambiguous"] = cd1_layer(x, r["w0"], r["thr"], epochs)
        out.append(r)
        x = propagate(x, r["w"])
    return out


def check_weights(ref, got):
    """Problems of one pass's weight stack against the reference, as
    (layer, message); a missing or extra matrix fails every layer.
    """
    if len(got) != len(ref):
        return [(k, f"{len(got)} weight matrices, expected {len(ref)}") for k in range(len(ref))]
    problems = []
    for k, (r, g) in enumerate(zip(ref, got)):
        if g.shape != r["w"].shape:
            problems.append((k, f"shape {g.shape} != {r['w'].shape}"))
            continue
        err = float(np.max(np.abs(g - r["w"])))
        if err <= WEIGHT_TOL:
            continue
        # the program may have drawn an ambiguous state the other way
        if any(float(np.max(np.abs(
                g - cd1_layer(r["x"], r["w0"], r["thr"], r["epochs"], {f})[0]))) <= WEIGHT_TOL
               for f in r["ambiguous"][:4]):
            continue
        problems.append((k, f"max |w - ref| = {err:.3g} > {WEIGHT_TOL}"))
    return problems


def check_layer_file(lines, ids, x, w, width):
    """A propagated layer file: `id<TAB>v0 ... v_{h-1}` per example, equal
    to floor(255 * sigmoid(x W)) of the layer input `x` (rows in `ids`
    order) and the returned weights `w`. Returns (problems, values).
    """
    problems = []
    got = {}
    for ln in lines:
        key, _, vals = ln.partition("\t")
        got[int(key)] = vals.split()
    if len(lines) != len(ids) or set(got) != set(ids.tolist()):
        return [f"rows: {len(lines)} lines, {len(got)} ids, expected {len(ids)}"], None
    vals = np.array([list(map(int, got[i])) if len(got[i]) == width else [-1] * width
                     for i in ids.tolist()])
    if any(len(got[i]) != width for i in ids.tolist()):
        problems.append(f"width != {width}")
    if vals.min() < 0 or vals.max() > 255:
        problems.append(f"values outside 0-255: [{vals.min()}, {vals.max()}]")
    exact = 255.0 * sigmoid(x @ w)
    want = np.floor(exact)
    bad = vals != want
    # a value within QUANT_MARGIN of an integer may floor either way
    edge = np.abs(exact - np.round(exact)) < QUANT_MARGIN
    bad &= ~(edge & (np.abs(vals - want) == 1))
    if bad.any():
        n, j = np.argwhere(bad)[0]
        problems.append(f"{int(bad.sum())} values differ; first id {ids[n]} unit {j}: "
                        f"file {vals[n, j]} want {int(want[n, j])}")
    return problems, vals


# --- registry -------------------------------------------------------------

def compare_frames(got, want):
    """Exact comparison of a query's output with its oracle's."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"]
    a = got[sorted(got.columns)].reset_index(drop=True)
    b = want[sorted(want.columns)].reset_index(drop=True)
    if len(a) != len(b):
        return [f"row count differs: {len(a)} vs {len(b)}"]
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype) != str(bv.dtype):
            problems.append(f"dtype[{c}]: {av.dtype} vs {bv.dtype}")
            continue
        if av.dtype.kind == "f":
            x, y = av.to_numpy(dtype="float64"), bv.to_numpy(dtype="float64")
            ok = (np.isnan(x) & np.isnan(y)) | ((x == y) & (np.signbit(x) == np.signbit(y)))
        else:
            ok = ((av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))).to_numpy()
        if not ok.all():
            r = int(np.argmin(ok))
            problems.append(f"values[{c}]: {int((~ok).sum())} differ; first row {r}: "
                            f"{av[r]!r} vs {bv[r]!r}")
    return problems


def oracle_frames(tables_dir, names, oracle_sql):
    import duckdb
    # closed before returning: a connection left to interpreter shutdown
    # can abort the process from DuckDB's worker threads
    con = duckdb.connect()
    try:
        for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return {n: con.sql(oracle_sql[n]).df() for n in names}
    finally:
        con.close()
