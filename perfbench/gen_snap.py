"""Seeded SNAP ego-network generator with independently computed answers.

Writes the five SNAP file kinds (`.edges`, `.featnames`, `.feat`,
`.egofeat`, `.circles`) with the quirks the reference data has:

- every file ends with a trailing newline;
- every undirected friendship is listed in both directions;
- several features share one key, and nodes set more than one bit of a
  key, so the property decode must be last-wins (highest feature index);
- `.feat` lists a superset of the friends, and circles name members that
  are not friends (both must be dropped by the ingest);
- ego 3980 has no `education;school;id` feature, so no vertex holds both
  hypothesis keys and its proof is 0/0 ("NaN", "disproved").

`expected_*` functions compute every number the program reports from the
generated graph in plain Python, without reading anything back through
the program: proof counts, node/edge counts, per-friend degree and
friend-friend edges among neighbours (eff), clustering and closed-form
centrality, the bounded k-core peel, connected components, Σdeg² and the
triangle count.
"""

import random

# Per-ego line counts from the reference data (FIXTURES.md §1):
# (ego, .edges lines, friends, .featnames lines, .feat rows, .circles lines)
EGO_TABLE = [
    ("0", 5038, 333, 224, 347, 24),
    ("107", 53498, 1034, 576, 1045, 9),
    ("348", 6384, 224, 161, 227, 14),
    ("414", 3386, 150, 105, 159, 7),
    ("686", 3312, 168, 63, 170, 14),
    ("698", 540, 61, 48, 66, 13),
    ("1684", 28048, 786, 319, 792, 17),
    ("1912", 60050, 747, 480, 755, 46),
    ("3437", 9626, 534, 262, 547, 32),
    ("3980", 292, 52, 42, 59, 17),
]
NO_SCHOOL_EGO = "3980"

HOMETOWN = "hometown;id"
SCHOOL = "education;school;id"
OTHER_KEYS = [
    "birthday", "education;classes;id", "education;concentration;id",
    "education;degree;id", "education;type", "education;with;id",
    "education;year;id", "first_name", "gender", "languages;id",
    "last_name", "locale", "location;id", "work;employer;id",
    "work;end_date", "work;location;id", "work;position;id",
    "work;start_date", "work;with;id", "political", "religion", "name",
    "work;projects;id", "education;classes;with;id", "work;projects;with;id",
]

# The hub graph: one ego whose two hubs are adjacent to 95% of the friends
# over a sparse background, plus a dense block that keeps a 10-core.
HUB_EGO = "9001"
HUB_FRIENDS = 3000
HUB_COUNT = 2
HUB_SHARE = 0.95
HUB_BACKGROUND_EDGES = 1000
HUB_CORE = 40
HUB_CORE_P = 0.5


# ---------------------------------------------------------------- graphs

def _community_graph(rng, nodes, n_edges):
    """Undirected edge set over `nodes` with community structure: every node
    gets at least one edge, most edges stay inside a community."""
    n = len(nodes)
    size = max(8, min(n, -(-7 * n_edges // (2 * n))))
    order = nodes[:]
    rng.shuffle(order)
    comms = [order[i:i + size] for i in range(0, n, size)]
    if len(comms) > 1 and len(comms[-1]) < 2:
        comms[-2].extend(comms.pop())
    comm_of = {v: c for c in comms for v in c}
    edges = set()

    def add(a, b):
        if a != b:
            edges.add((a, b) if a < b else (b, a))

    for v in order:  # every friend appears in .edges
        c = comm_of[v]
        u = v
        while u == v:
            u = rng.choice(c)
        add(v, u)
    while len(edges) < n_edges:
        a = rng.choice(order)
        if rng.random() < 0.75:
            add(a, rng.choice(comm_of[a]))
        else:
            add(a, rng.choice(order))
    return edges


def _hub_graph(rng, nodes):
    hubs = nodes[:HUB_COUNT]
    rest = nodes[HUB_COUNT:]
    edges = _community_graph(rng, rest, HUB_BACKGROUND_EDGES)
    core = rest[:HUB_CORE]
    for i, a in enumerate(core):
        for b in core[i + 1:]:
            if rng.random() < HUB_CORE_P:
                edges.add((a, b) if a < b else (b, a))
    for h in hubs:
        for v in rng.sample(nodes, int(HUB_SHARE * len(nodes))):
            if v != h:
                edges.add((h, v) if h < v else (v, h))
    return edges


# ----------------------------------------------------------- file writing

def _ego_files(rng, ego, edges, friends, n_featnames, n_feat, n_circles):
    """The five file texts for one ego network."""
    lines = []
    for a, b in edges:
        lines.append(f"{a} {b}")
        lines.append(f"{b} {a}")
    rng.shuffle(lines)

    # featnames: a few values for each hypothesis key (so equal pairs occur),
    # the rest spread over the other categories.
    keys = [HOMETOWN] * 5
    if ego != NO_SCHOOL_EGO:
        keys += [SCHOOL] * 4
    while len(keys) < n_featnames:
        keys.append(rng.choice(OTHER_KEYS))
    rng.shuffle(keys)
    featnames = [f"{i} {k};anonymized feature {rng.randrange(1000)}"
                 for i, k in enumerate(keys)]
    by_key = {}
    for i, k in enumerate(keys):
        by_key.setdefault(k, []).append(i)

    def bits():
        on = set()
        for key, p_one, p_two in ((HOMETOWN, 0.55, 0.15), (SCHOOL, 0.55, 0.15)):
            idxs = by_key.get(key, [])
            if idxs:
                r = rng.random()
                if r < p_two:  # two bits of one key: exercises last-wins
                    on.update(rng.sample(idxs, 2))
                elif r < p_one:
                    on.add(rng.choice(idxs))
        on.update(i for i in range(n_featnames) if rng.random() < 0.03)
        return ["1" if i in on else "0" for i in range(n_featnames)]

    extras = set()
    while len(extras) < n_feat - len(friends):
        cand = str(rng.randrange(1, 99999))
        if cand not in friends and cand != ego:
            extras.add(cand)
    feat_nodes = sorted(friends) + sorted(extras)
    rng.shuffle(feat_nodes)
    feat = [" ".join([v] + bits()) for v in feat_nodes]
    egofeat = " ".join(bits())

    friend_list = sorted(friends)
    circles = []
    for c in range(n_circles):
        members = rng.sample(friend_list, min(len(friend_list), rng.randint(1, 30)))
        if rng.random() < 0.5:  # members that are not friends are dropped
            members.append(rng.choice(sorted(extras)))
        circles.append("\t".join([f"circle{c}"] + members))

    def text(rows):
        return "".join(r + "\n" for r in rows)

    return {
        "edges": text(lines),
        "featnames": text(featnames),
        "feat": text(feat),
        "egofeat": egofeat + "\n",
        "circles": text(circles),
    }


def _node_ids(rng, ego, n):
    ids = set()
    while len(ids) < n:
        v = str(rng.randrange(1, 99999))
        if v != ego:
            ids.add(v)
    return sorted(ids)


def ego_specs(seed):
    """[(ego, edge set, friend ids, featnames, feat rows, circles)] of the
    ten-ego set; edge counts match the reference line counts exactly."""
    rng = random.Random(f"ego-set-{seed}")
    out = []
    for ego, edge_lines, n_friends, n_fn, n_feat, n_circ in EGO_TABLE:
        nodes = _node_ids(rng, ego, n_friends)
        edges = _community_graph(rng, nodes, edge_lines // 2)
        out.append((ego, edges, set(nodes), n_fn, n_feat, n_circ))
    return out


def hub_spec(seed):
    rng = random.Random(f"hub-{seed}")
    nodes = _node_ids(rng, HUB_EGO, HUB_FRIENDS)
    edges = _hub_graph(rng, nodes)
    friends = {v for e in edges for v in e}
    return [(HUB_EGO, edges, friends, 120, len(friends) + 12, 10)]


def write(specs, seed, out_dir):
    """Write the files of `specs` into `out_dir`; returns their texts."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"files-{seed}")
    texts = {}
    for ego, edges, friends, n_fn, n_feat, n_circ in specs:
        files = _ego_files(rng, ego, sorted(edges), friends, n_fn, n_feat, n_circ)
        for ext, body in files.items():
            with open(os.path.join(out_dir, f"{ego}.{ext}"), "w", newline="\n") as f:
                f.write(body)
        texts[ego] = files
    return texts


# ------------------------------------------------------- expected answers

def parse(files):
    """Re-read one ego's generated texts the way the reference parser does."""
    edges, first_seen = set(), {}
    for line in files["edges"].split("\n"):
        if not line:
            continue
        a, b = line.split(" ")[:2]
        for v in (a, b):
            first_seen.setdefault(v, len(first_seen))
        edges.add((a, b) if a < b else (b, a))
    names = {}
    for line in files["featnames"].split("\n"):
        if line:
            idx, rest = line.split(" ", 1)
            key, value = rest.rsplit(";", 1)
            names[int(idx)] = (key, value)

    def decode(bits):
        props = {}
        for i, b in enumerate(bits):  # ascending index: last wins
            if b == "1":
                k, v = names[i]
                props[k] = v
        return props

    props = {}
    for line in files["feat"].split("\n"):
        if line:
            toks = line.split(" ")
            if toks[0] in first_seen:
                props[toks[0]] = decode(toks[1:])
    egofeat = decode(files["egofeat"].split("\n")[0].split(" "))
    return edges, first_seen, props, egofeat


def adjacency(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def deg_eff(edges):
    """{node: (deg, eff)}: eff = friend-friend edges among the node's
    neighbours, i.e. triangles through the node."""
    adj = adjacency(edges)
    eff = dict.fromkeys(adj, 0)
    for a, b in edges:
        for w in adj[a] & adj[b]:
            eff[w] += 1
    return {v: (len(adj[v]), eff[v]) for v in adj}


def proof_counts(ego, edges, props, egofeat):
    hyp = {}
    for v, p in list(props.items()) + [(ego, egofeat)]:
        if HOMETOWN in p and SCHOOL in p:
            hyp[v] = (p[HOMETOWN], p[SCHOOL])
    groups = {}
    for key in hyp.values():
        groups[key] = groups.get(key, 0) + 1
    denom = sum(c * c for c in groups.values())
    num = 0
    friends = {v for e in edges for v in e}
    pairs = list(edges) + [(ego, v) for v in friends]
    for a, b in pairs:
        if a in hyp and b in hyp and hyp[a] == hyp[b]:
            num += 2  # ordered pairs: both directions
    return denom, num


def expected_golden(texts):
    """Per ego: proof counts, node/edge counts and per-friend rows
    (name, deg, eff) in first-appearance order."""
    out = {}
    for ego, files in texts.items():
        edges, first_seen, props, egofeat = parse(files)
        de = deg_eff(edges)
        denom, num = proof_counts(ego, edges, props, egofeat)
        order = sorted(first_seen, key=first_seen.get)
        out[ego] = {
            "denom": denom, "num": num,
            "nodes": len(first_seen) + 1, "edges": len(edges) + len(first_seen),
            "friends": [[v, de[v][0], de[v][1]] for v in order],
        }
    return out


def kcore(edges, k, rounds):
    """The program's bounded peel: at most `rounds` rounds, each removing
    every node of degree < k at once; returns the surviving node set."""
    live = set(edges)
    for _ in range(rounds):
        deg = {}
        for a, b in live:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        dead = {v for v, d in deg.items() if d < k}
        if not dead:
            break
        live = {(a, b) for a, b in live if a not in dead and b not in dead}
    return sorted({v for e in live for v in e}, key=int)


def components(edges):
    """(number of components, largest size) of the friend-only graph."""
    adj = adjacency(edges)
    seen, sizes = set(), []
    for s in adj:
        if s in seen:
            continue
        seen.add(s)
        stack, n = [s], 0
        while stack:
            v = stack.pop()
            n += 1
            for u in adj[v]:
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        sizes.append(n)
    return len(sizes), max(sizes)


def graph_stats(edges):
    de = deg_eff(edges)
    return {
        "edges": len(edges),
        "sum_deg2": sum(d * d for d, _ in de.values()),
        "triangles": sum(e for _, e in de.values()) // 3,
    }


def expected_hub(texts, k=10, rounds=8):
    (ego, files), = texts.items()
    edges, first_seen, _, _ = parse(files)
    de = deg_eff(edges)
    n_comp, largest = components(edges)
    return {
        "ego": ego,
        "deg_eff": {v: list(x) for v, x in de.items()},
        "kcore": kcore(edges, k, rounds),
        "k": k, "rounds": rounds,
        "components": [n_comp, largest],
    }
