"""Seeded synthetic npm registry and the plain-Python oracle the benchmark
checks every pass against.

The universe mimics the shapes the flagship query has to handle:

- heavy-tailed version counts per package (log-normal, capped);
- dependency names drawn Zipf-popular from a fixed vocabulary, so a few
  names (the ``lodash``s) appear in most versions, and versions of one
  package that share most of their dependencies;
- full packuments: each version doc carries the non-dependency fields the
  registry serves (``dist``, ``scripts``, ``maintainers``, ...) and each
  doc a ``time`` map and a ``readme``, so ``from_json`` skips as many
  bytes as it parses;
- a fixed share of 404 docs, malformed JSON bodies, docs with no
  ``versions`` key and docs whose ``versions`` is not an object;
- listed packages that have no doc at all, and docs for packages that are
  not listed (the batch join and the replay source drop both).

Every constant below is an assumption, not a value fitted to registry
data; ``perfbench/README.md`` lists each with its reason.

``write`` emits the docs parquet (one row group, like the committed
fixture), the gzipped package list, the replay transcript that
``fetch.ReplayTransport`` serves, and returns the oracle's expected rows
for each consumer. The same seed and size give byte-identical files.
"""

from __future__ import annotations

import gzip
import hashlib
import itertools
import json
import math
import os
import random
from dataclasses import dataclass
from statistics import NormalDist

# Versions per package: log-normal with this median and log-sd, rounded,
# at least 1 and at most MAX_VERSIONS. Drawn at evenly spaced quantiles
# (see ``generate``), as are README lengths.
VERSIONS_MEDIAN = 5
VERSIONS_SIGMA = 1.2
MAX_VERSIONS = 300

# Dependencies per package (geometric with these means); each later
# version adds or drops one with probability DEP_DRIFT.
RUNTIME_DEPS_MEAN = 3.0
DEV_DEPS_MEAN = 5.0
DEP_DRIFT = 0.3
VOCAB = 5000
ZIPF_S = 1.1

# README length in characters: log-normal with this median and log-sd.
README_MEDIAN = 1500
README_SIGMA = 1.0

# Share of packages per doc kind, rounded to whole packages; the rest are
# well-formed 200 docs.
SHARE_404 = 0.02
SHARE_MALFORMED = 0.01
SHARE_NO_VERSIONS = 0.01
SHARE_VERSIONS_NOT_OBJECT = 0.005
SHARE_UNLISTED_DOC = 0.005  # doc exists, package not in the list
SHARE_LISTED_NO_DOC = 0.005  # package listed, registry has no doc

# Precomputed once: ``random.choices`` with raw weights re-accumulates the
# 5k-entry table on every call, which dominated generation time.
_DEP_NAMES = [f"dep-{k:04d}" for k in range(VOCAB)]
_DEP_CUM = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(VOCAB)))
_RANGES = [f"^{major}.0.0" for major in range(10)]
_TEXT = (
    "Install with npm install. The module exports one function that takes "
    "an options object and returns a promise. See the examples directory. "
) * 8


@dataclass(frozen=True)
class Universe:
    """Generated registry: ``docs`` rows are (name, status_code, doc) in
    name order; ``listed`` is the package list in file order."""

    docs: list[tuple[str, int, str | None]]
    listed: list[str]


def _below(rng: random.Random, n: int) -> int:
    # int(random() * n) is several times cheaper than randint, which
    # dominated generation time
    return int(rng.random() * n)


def _geometric(rng: random.Random, mean: float) -> int:
    return int(rng.expovariate(1.0 / mean))


def _deps(rng: random.Random, k: int) -> dict[str, str]:
    picks = rng.choices(_DEP_NAMES, cum_weights=_DEP_CUM, k=k)
    return {name: _RANGES[_below(rng, 10)] for name in picks}


def _drift(rng: random.Random, deps: dict[str, str]) -> dict[str, str]:
    """The next version's dependencies: usually the same, else one added
    or one dropped."""
    r = rng.random()
    if r >= DEP_DRIFT:
        return deps
    deps = dict(deps)
    if r < DEP_DRIFT / 2 and deps:
        deps.pop(next(iter(deps)))
    else:
        deps.update(_deps(rng, 1))
    return deps


def _semver_walk(rng: random.Random, n: int) -> list[str]:
    """n distinct release numbers in publish order: mostly patches, some
    minors, few majors."""
    major, minor, patch = _below(rng, 2), _below(rng, 3), 0
    out = []
    for _ in range(n):
        out.append(f"{major}.{minor}.{patch}")
        r = rng.random()
        if r < 0.05:
            major, minor, patch = major + 1, 0, 0
        elif r < 0.3:
            minor, patch = minor + 1, 0
        else:
            patch += 1
    return out


def _stamp(k: int) -> str:
    return f"20{14 + k // 4000 % 10:02d}-{1 + k // 300 % 12:02d}-{1 + k // 10 % 28:02d}T{k % 24:02d}:00:00.000Z"


def _version_doc(name: str, ver: str, runtime: dict | None, dev: dict | None) -> dict:
    """One entry of a packument's ``versions`` map, with the fields the
    public registry serves besides the dependency maps. Hashes are derived
    from the name, so they cost no random draws."""
    ident = f"{name}@{ver}"
    digest = hashlib.sha512(ident.encode()).digest()
    v: dict = {
        "name": name,
        "version": ver,
        "description": f"{name}: {_TEXT[:60]}",
        "main": "index.js",
        "scripts": {"test": "mocha test/", "build": "tsc -p .", "lint": "eslint ."},
        "repository": {"type": "git", "url": f"git+https://github.com/{name}/{name}.git"},
        "author": {"name": f"{name}-author"},
        "license": "MIT",
    }
    if runtime is not None:
        v["dependencies"] = runtime
    if dev is not None:
        v["devDependencies"] = dev
    v.update(
        {
            "_id": ident,
            "_nodeVersion": "18.17.1",
            "_npmVersion": "9.6.7",
            "_npmUser": {"name": f"{name}-author", "email": f"{name}@example.com"},
            "maintainers": [{"name": f"{name}-author", "email": f"{name}@example.com"}],
            "dist": {
                "shasum": hashlib.sha1(digest).hexdigest(),
                "tarball": f"https://registry.npmjs.org/{name}/-/{name}-{ver}.tgz",
                "integrity": "sha512-" + digest.hex()[:86] + "==",
                "fileCount": 4 + len(ver),
                "unpackedSize": 1000 * (4 + len(ver)),
            },
            "directories": {},
        }
    )
    return v


def _quantiles(n: int, median: float, sigma: float, lo: int, hi: int) -> list[int]:
    """n values of a rounded, clamped log-normal at evenly spaced
    quantiles, so their sum is the same for every seed."""
    dist = NormalDist(math.log(median), sigma)
    return [min(hi, max(lo, round(math.exp(dist.inv_cdf((i + 0.5) / n))))) for i in range(n)]


def _packument(rng: random.Random, name: str, n_versions: int, readme_len: int) -> str:
    kind = rng.random()  # 10% lack ``dependencies``, another 10% ``devDependencies``
    runtime = None if kind < 0.1 else _deps(rng, _geometric(rng, RUNTIME_DEPS_MEAN))
    dev = None if 0.1 <= kind < 0.2 else _deps(rng, _geometric(rng, DEV_DEPS_MEAN))
    versions = {}
    for ver in _semver_walk(rng, n_versions):
        versions[ver] = _version_doc(name, ver, runtime, dev)
        runtime = None if runtime is None else _drift(rng, runtime)
        dev = None if dev is None else _drift(rng, dev)
    first = _below(rng, 20000)
    doc = {
        "_id": name,
        "name": name,
        "description": versions[ver]["description"],
        "dist-tags": {"latest": ver},
        "versions": versions,
        "time": {"created": _stamp(first), **{v: _stamp(first + k) for k, v in enumerate(versions)}},
        "maintainers": versions[ver]["maintainers"],
        "readme": (_TEXT * (1 + readme_len // len(_TEXT)))[:readme_len],
        "readmeFilename": "README.md",
        "license": "MIT",
    }
    return json.dumps(doc)


def generate(seed: int, n_packages: int) -> Universe:
    """Every count of a kind, and the multiset of version counts and README
    lengths, depends only on ``n_packages``; the seed decides which
    package gets which, and everything else. So every seed asks for the
    same amount of work."""
    rng = random.Random(seed)
    names = [f"pkg-{i:06d}" for i in range(n_packages)]
    kinds: list[str] = []
    for kind, share in (
        ("no_doc", SHARE_LISTED_NO_DOC),
        ("unlisted", SHARE_UNLISTED_DOC),
        ("404", SHARE_404),
        ("malformed", SHARE_MALFORMED),
        ("no_versions", SHARE_NO_VERSIONS),
        ("versions_not_object", SHARE_VERSIONS_NOT_OBJECT),
    ):
        kinds += [kind] * round(share * n_packages)
    n_full = n_packages - len(kinds) + kinds.count("unlisted")
    kinds += ["full"] * (n_packages - len(kinds))
    rng.shuffle(kinds)
    version_counts = _quantiles(n_full, VERSIONS_MEDIAN, VERSIONS_SIGMA, 1, MAX_VERSIONS)
    readme_lens = _quantiles(n_full, README_MEDIAN, README_SIGMA, 0, 10**6)
    rng.shuffle(version_counts)
    rng.shuffle(readme_lens)
    docs = []
    listed = []
    for name, kind in zip(names, kinds):
        if kind in ("full", "unlisted"):
            docs.append((name, 200, _packument(rng, name, version_counts.pop(), readme_lens.pop())))
        elif kind == "404":
            docs.append((name, 404, ""))
        elif kind == "malformed":
            docs.append((name, 200, '{"name": "%s", "versions": {' % name))
        elif kind == "no_versions":
            docs.append((name, 200, json.dumps({"name": name})))
        elif kind == "versions_not_object":
            docs.append((name, 200, json.dumps({"name": name, "versions": "not-an-object"})))
        if kind != "unlisted":
            listed.append(name)
    rng.shuffle(listed)
    return Universe(docs=docs, listed=listed)


def expected_counts(
    docs: list[tuple[str, int, str | None]], names: list[str] | None = None
) -> list[tuple[str, str, int, int]]:
    """One (package, version, runtime, dev) row per version of every doc
    that is listed (all docs when ``names`` is None), answered 200 and
    parses to an object with a ``versions`` object. Written with json and
    dicts only, so a Spark-side bug cannot verify itself."""
    wanted = None if names is None else set(names)
    out: dict[tuple[str, str], tuple[int, int]] = {}
    for name, code, body in docs:
        if code != 200 or (wanted is not None and name not in wanted):
            continue
        try:
            parsed = json.loads(body)
        except (TypeError, json.JSONDecodeError):
            continue
        versions = parsed.get("versions") if isinstance(parsed, dict) else None
        if not isinstance(versions, dict):
            continue
        for ver, vdoc in versions.items():
            deps = vdoc.get("dependencies")
            dev = vdoc.get("devDependencies")
            out[(name, ver)] = (
                len(deps) if isinstance(deps, dict) else 0,
                len(dev) if isinstance(dev, dict) else 0,
            )
    return sorted((p, v, r, d) for (p, v), (r, d) in out.items())


def transcript(docs: list[tuple[str, int, str | None]]) -> dict[str, list]:
    """``ReplayTransport`` outcome lists: one final outcome per doc;
    packages without a doc are absent and replay as 404."""
    return {name: ([[code, body]] if code == 200 else [code]) for name, code, body in docs}


@dataclass(frozen=True)
class Inputs:
    docs_path: str
    packages_path: str
    transcript_path: str
    listed: list[str]  # the package list, in file order
    n_docs: int  # rows in the docs parquet
    expected_batch: list[tuple[str, str, int, int]]  # listed packages only
    expected_docs: list[tuple[str, str, int, int]]  # every doc in the parquet


def write(universe: Universe, out_dir: str) -> Inputs:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = universe.docs
    docs_path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table(
            {
                "name": [d[0] for d in docs],
                "status_code": pa.array([d[1] for d in docs], pa.int32()),
                "doc": [d[2] for d in docs],
            }
        ),
        docs_path,
    )
    packages_path = os.path.join(out_dir, "packages.txt.gz")
    with open(packages_path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(("\n".join(universe.listed) + "\n").encode())
    transcript_path = os.path.join(out_dir, "transcript.json")
    with open(transcript_path, "w") as f:
        json.dump(transcript(docs), f)
    every = expected_counts(docs)
    listed = set(universe.listed)
    return Inputs(
        docs_path=docs_path,
        packages_path=packages_path,
        transcript_path=transcript_path,
        listed=universe.listed,
        n_docs=len(docs),
        expected_batch=[row for row in every if row[0] in listed],
        expected_docs=every,
    )
