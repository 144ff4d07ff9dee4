"""SEIR epidemic simulation + post-processing (reference seir_utils.py,
SimulationManager.py, csv_infected.py).

The reference runs EoN.Gillespie_simple_contagion per graph in an mp.Pool
(seir_utils.py:75-82). Continuous-time Gillespie is inherently sequential
per graph, so the Spark shape is the same as the reference's: fan the
*simulations* out (one task per (graph, seed)) and keep each run driver-style
inside its task. Here:

- `seir_discrete` is a deterministic-under-seed discrete-time SEIR over an
  edge list (numpy; documented divergence from Gillespie — event times are
  step-quantized).
- `run_gillespie_sweep` fans (seed -> trajectory) out via the JVM scheduler
  (parallelize over seeds), the reference's mp.Pool(10) (SimulationManager
  .py:371) without the process plumbing.
- `infected_by_block` / `trajectory_stats` are the csv_infected.py:88-121
  aggregations as DataFrame ops.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F


def seir_discrete(
    n_nodes: int,
    edges: list[tuple[int, int]],
    beta: float = 0.1,
    sigma: float = 0.2,
    gamma: float = 0.1,
    seed: int = 0,
    t_max: int = 100,
    initial_infected: int = 1,
) -> list[tuple[int, int, int, int, int]]:
    """Discrete-time SEIR on an undirected edge list; returns rows
    (t, S, E, I, R). Node-level states use the reference's state set
    (seir_utils.py:64-70); transmission/transition draws are seeded."""
    rng = np.random.default_rng(seed)
    # 0=S 1=E 2=I 3=R
    state = np.zeros(n_nodes, dtype=np.int8)
    first = rng.choice(n_nodes, size=min(initial_infected, n_nodes), replace=False)
    state[first] = 2
    adj: list[list[int]] = [[] for _ in range(n_nodes)]
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    out = []
    for t in range(t_max + 1):
        counts = np.bincount(state, minlength=4)
        out.append((t, int(counts[0]), int(counts[1]), int(counts[2]), int(counts[3])))
        if counts[1] == 0 and counts[2] == 0:
            break
        infected = np.flatnonzero(state == 2)
        exposures = set()
        for i in infected:
            for nb in adj[i]:
                if state[nb] == 0 and rng.random() < beta:
                    exposures.add(nb)
        e_to_i = np.flatnonzero(state == 1)[
            rng.random(int((state == 1).sum())) < sigma
        ]
        i_to_r = infected[rng.random(len(infected)) < gamma]
        for nb in exposures:
            state[nb] = 1
        state[e_to_i] = 2
        state[i_to_r] = 3
    return out


def prepare_gillespie_weights(
    n_nodes: int,
    edges: list[tuple[int, int]],
    seed: int = 0,
    min_ei: float = 0.5,
    max_ei: float = 1.5,
    min_ir: float = 0.5,
    max_ir: float = 1.5,
):
    """Per-node / per-edge rate multipliers matching the reference's
    funcion_preparadora (seir_utils.py:20-41): E->I and I->R node weights
    drawn uniform over a context-configured band, transmission weight per
    edge drawn 0.5 + U[0,1). Returns (w_ei, w_ir, w_edge) numpy arrays,
    w_edge aligned with the input edge list."""
    rng = np.random.default_rng(seed)
    w_ei = rng.uniform(min_ei, max_ei, n_nodes)
    w_ir = rng.uniform(min_ir, max_ir, n_nodes)
    w_edge = 0.5 + rng.random(len(edges))
    return w_ei, w_ir, w_edge


def seir_gillespie(
    n_nodes: int,
    edges: list[tuple[int, int]],
    beta: float = 0.1,
    sigma: float = 0.2,
    gamma: float = 0.1,
    seed: int = 0,
    t_max: float = 100.0,
    initial_infected: int = 1,
    initial_recovered: int = 0,
    node_ei_weight=None,
    node_ir_weight=None,
    edge_weight=None,
) -> list[tuple[float, int, int, int, int]]:
    """Continuous-time Gillespie SEIR (direct method) over an undirected
    edge list — the reference's actual simulator semantics
    (EoN.Gillespie_simple_contagion, seir_utils.py:75-82):

    - spontaneous E->I at rate sigma * node_ei_weight[n]   (H edge E->I,
      weight_label='expose2infect_weight', seir_utils.py:66)
    - spontaneous I->R at rate gamma * node_ir_weight[n]   (H edge I->R,
      weight_label='infect2recover_weight', seir_utils.py:67)
    - induced ('I','S')->('I','E') at rate beta * edge_weight[e] per
      infected neighbour (J digraph, seir_utils.py:69-70)

    Event times are exponential; rates are *rates*, not per-step
    probabilities (the discrete variants' beta/sigma/gamma convert as
    rate = -ln(1 - p)). Initial conditions: the `initial_infected`
    smallest node ids are I and the next `initial_recovered` are R,
    mirroring funcion_SEIR's IC fill (seir_utils.py:55-60) minus its
    range(n-1) off-by-one. Returns event rows (t, S, E, I, R)."""
    rng = np.random.default_rng(seed)
    w_ei = np.ones(n_nodes) if node_ei_weight is None else np.asarray(node_ei_weight, float)
    w_ir = np.ones(n_nodes) if node_ir_weight is None else np.asarray(node_ir_weight, float)
    w_e = np.ones(len(edges)) if edge_weight is None else np.asarray(edge_weight, float)

    # 0=S 1=E 2=I 3=R
    state = np.zeros(n_nodes, dtype=np.int8)
    n_i = min(initial_infected, n_nodes)
    state[:n_i] = 2
    state[n_i : min(n_i + initial_recovered, n_nodes)] = 3

    adj: list[list[tuple[int, float]]] = [[] for _ in range(n_nodes)]
    for (a, b), w in zip(edges, w_e):
        adj[a].append((b, float(w)))
        adj[b].append((a, float(w)))

    # pressure[j] = beta * sum of edge weights to currently-infected
    # neighbours; it is node j's S->E rate while j is susceptible.
    pressure = np.zeros(n_nodes)
    rate = np.zeros(n_nodes)
    for i in np.flatnonzero(state == 2):
        rate[i] = gamma * w_ir[i]
        for j, w in adj[i]:
            pressure[j] += beta * w
    sus = state == 0
    rate[sus] = pressure[sus]

    def counts_row(t: float):
        c = np.bincount(state, minlength=4)
        return (t, int(c[0]), int(c[1]), int(c[2]), int(c[3]))

    out = [counts_row(0.0)]
    t = 0.0
    total = float(rate.sum())
    while total > 1e-12:
        t += rng.exponential(1.0 / total)
        if t > t_max:
            break
        # Float edge: cumsum's sequential accumulation can disagree with
        # rate.sum()'s pairwise sum, landing the draw past the last
        # positive-rate slot. Re-draw only the NODE (not the waiting time —
        # t already advanced; adding a second Exp(total) would overshoot)
        # rather than clamping into a zero-rate node's transition branch,
        # which would re-run I->R on a recovered node and double-decrement
        # neighbour pressure.
        cum = np.cumsum(rate)
        for _ in range(100):
            node = int(np.searchsorted(cum, rng.random() * total, side="right"))
            if node < n_nodes and rate[node] > 0.0:
                break
        else:  # pragma: no cover - total inconsistent with every draw
            total = float(rate.sum())
            continue
        s = state[node]
        if s == 0:  # S -> E (induced)
            state[node] = 1
            rate[node] = sigma * w_ei[node]
        elif s == 1:  # E -> I
            state[node] = 2
            rate[node] = gamma * w_ir[node]
            for j, w in adj[node]:
                pressure[j] += beta * w
                if state[j] == 0:
                    rate[j] = pressure[j]
        else:  # I -> R
            state[node] = 3
            rate[node] = 0.0
            for j, w in adj[node]:
                pressure[j] = max(pressure[j] - beta * w, 0.0)
                if state[j] == 0:
                    rate[j] = pressure[j]
        out.append(counts_row(t))
        total = float(rate.sum())
    return out


def run_gillespie_sweep(
    spark: SparkSession,
    n_nodes: int,
    edges: list[tuple[int, int]],
    seeds: list[int],
    weighted: bool = False,
    **params,
) -> DataFrame:
    """Fan one Gillespie run per seed across the cluster — the reference's
    100-seed loop (seir_utils.py:133, SimulationManager.py:371) as a
    parallelize fan-out. With weighted=True each seed also draws the
    funcion_preparadora node/edge weights (from the same seed)."""
    sc = spark.sparkContext
    edges_bc = sc.broadcast(edges)

    def run(seed: int):
        edge_list = edges_bc.value
        kw = dict(params)
        if weighted:
            w_ei, w_ir, w_edge = prepare_gillespie_weights(n_nodes, edge_list, seed=seed)
            kw.update(node_ei_weight=w_ei, node_ir_weight=w_ir, edge_weight=w_edge)
        rows = seir_gillespie(n_nodes, edge_list, seed=seed, **kw)
        return [(seed, float(r[0]), r[1], r[2], r[3], r[4]) for r in rows]

    rdd = sc.parallelize(seeds, len(seeds)).flatMap(run)
    return spark.createDataFrame(rdd, "seed int, t double, S int, E int, I int, R int")


def trajectory_stats(trajectories: DataFrame) -> DataFrame:
    """Mean/stddev of the infected curve across seeds per t
    (csv_infected.py:110-119 AVG/STDDEV by time)."""
    return (
        trajectories.groupBy("t")
        .agg(
            F.round(F.avg("I"), 6).alias("avg_I"),
            F.round(F.coalesce(F.stddev_samp("I"), F.lit(0.0)), 6).alias("std_I"),
            F.count(F.lit(1)).alias("n_runs"),
        )
    )


def infected_by_block(node_status: DataFrame) -> DataFrame:
    """Reference post-processing (csv_infected.py:88-121): per block, count
    nodes with an infection event (HAVING I NOT NULL -> where + agg)."""
    return (
        node_status.where(F.col("I").isNotNull())
        .groupBy("ageb_id")
        .agg(
            F.count(F.lit(1)).alias("n_infected"),
            F.round(F.avg("I"), 6).alias("avg_t_infected"),
        )
    )
