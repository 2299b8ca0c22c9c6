"""Seeded input trees for the pipe workloads, and the checks on their
outputs. Every generator takes a ``random.Random`` so one ``--seed`` fixes
every byte the program sees."""

from __future__ import annotations

import gzip
import hashlib
import os
import random
import shutil
from dataclasses import dataclass

LATIN1_WORDS = (
    "der die das und über für straße café naïve garçon señor niño façade "
    "élan déjà vu smörgåsbord crème brûlée à la carte résumé jalapeño "
    "the of and to in is it that was for on are with as at be this have"
).split()


@dataclass
class TreeShape:
    files: int
    leaf_dirs: int
    min_bytes: int = 512
    max_bytes: int = 8192


def _dirs(root: str, leaf_dirs: int) -> list[str]:
    """Leaf directories three levels below ``root``: about 4 leaves per
    middle directory and 4 middle directories per top directory. No leaf
    directories means ``root`` itself holds the files."""
    if leaf_dirs == 0:
        return [root]
    mids = max(1, -(-leaf_dirs // 4))
    tops = max(1, -(-mids // 4))
    return [
        os.path.join(root, f"t{(i // 4) % tops:02d}", f"m{i // 4:03d}", f"l{i:04d}")
        for i in range(leaf_dirs)
    ]


def make_tree(root: str, shape: TreeShape, rng: random.Random) -> dict:
    """Random-content files spread over a three-level tree; returns the
    input description. Sizes come in pairs that sum to ``min_bytes +
    max_bytes``, so the total, and with it ``mib_per_s``, does not depend
    on the seed."""
    leaves = _dirs(root, shape.leaf_dirs)
    for d in leaves:
        os.makedirs(d, exist_ok=True)
    mid = (shape.min_bytes + shape.max_bytes) // 2
    for i in range(shape.files):
        if i % 2 == 0:
            size = mid if i == shape.files - 1 else rng.randint(shape.min_bytes, shape.max_bytes)
        else:
            size = shape.min_bytes + shape.max_bytes - size
        with open(os.path.join(rng.choice(leaves), f"f{i:06d}.bin"), "wb") as f:
            f.write(rng.randbytes(size))
    return describe(root)


def describe(root: str) -> dict:
    files = dirs = size = 0
    for cur, dnames, fnames in os.walk(root):
        dirs += len(dnames)
        files += len(fnames)
        size += sum(os.path.getsize(os.path.join(cur, n)) for n in fnames)
    return {"files": files, "dirs": dirs, "bytes": size}


def list_files(root: str) -> list[str]:
    out = []
    for cur, _, fnames in os.walk(root):
        out.extend(os.path.relpath(os.path.join(cur, n), root) for n in fnames)
    return sorted(out)


def churn(root: str, rng: random.Random, serial: int, append=0.05, delete=0.01, add=0.01) -> dict:
    """Append to ~5% of the files, delete ~1% and add ~1% new ones."""
    files = list_files(root)
    n_app = max(1, round(len(files) * append))
    n_del = max(1, round(len(files) * delete))
    n_add = max(1, round(len(files) * add))
    picked = rng.sample(files, n_app + n_del)
    for rel in picked[:n_app]:
        with open(os.path.join(root, rel), "ab") as f:
            f.write(rng.randbytes(rng.randint(64, 1024)))
    for rel in picked[n_app:]:
        os.remove(os.path.join(root, rel))
    leaves = sorted({os.path.dirname(r) for r in files})
    for i in range(n_add):
        rel = os.path.join(rng.choice(leaves), f"n{serial:03d}_{i:04d}.bin")
        with open(os.path.join(root, rel), "wb") as f:
            f.write(rng.randbytes(rng.randint(512, 8192)))
    return {"appended": n_app, "deleted": n_del, "added": n_add}


def make_bulk(root: str, n_files: int, total_bytes: int, rng: random.Random) -> dict:
    """One flat directory of Latin-1 text files with heavy-tailed sizes:
    one file in eight is eight times the median size."""
    os.makedirs(root, exist_ok=True)
    big = [i % 8 == 7 for i in range(n_files)]
    rng.shuffle(big)
    unit = total_bytes // (sum(8 if b else 1 for b in big))
    pool = " ".join(rng.choice(LATIN1_WORDS) for _ in range(200_000)).encode("latin-1")
    for i, is_big in enumerate(big):
        want = unit * (8 if is_big else 1)
        parts, have = [], 0
        while have < want:
            start = rng.randrange(0, len(pool) - 4096)
            chunk = pool[start : start + min(want - have, rng.randint(4096, 65536))]
            parts.append(chunk)
            have += len(chunk)
        with open(os.path.join(root, f"doc{i:04d}.txt"), "wb") as f:
            f.write(b"".join(parts))
    return describe(root)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _gunzip_sha(path: str) -> str:
    h = hashlib.sha256()
    with gzip.open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def digests(root: str) -> dict[str, str]:
    """sha256 of every file under ``root``, by relative path."""
    return {rel: _sha(os.path.join(root, rel)) for rel in list_files(root)}


def check_mirror(expected: dict[str, str], dst: str, gunzip: bool = False) -> list[str]:
    """Source files (``expected``: relative path -> sha256) whose output
    under ``dst`` is missing or differs, output files no source maps to,
    and a leftover ``_distexec_tmp``. With ``gunzip`` each output is
    compared after decompression."""
    problems = []
    have = {
        r for r in list_files(dst) if not r.split(os.sep, 1)[0].startswith("_distexec_")
    }
    for rel, sha in sorted(expected.items()):
        out = os.path.join(dst, rel)
        if rel not in have:
            problems.append(f"missing {rel}")
        elif (_gunzip_sha(out) if gunzip else _sha(out)) != sha:
            problems.append(f"differs {rel}")
    problems.extend(f"extra {rel}" for rel in sorted(have - set(expected)))
    if os.path.exists(os.path.join(dst, "_distexec_tmp")):
        problems.append("_distexec_tmp left behind")
    return problems
