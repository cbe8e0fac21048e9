"""Environment stamp attached to every benchmark result, so a run made on a
contended or different machine labels itself."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess


def loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def source_digest(root: str) -> str:
    """Digest of the package sources: identifies the code under test where
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "airbnb_listings_data_pipelines_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(root: str, master: str, load_before: float, spark_version: str) -> dict:
    nproc = os.cpu_count() or 1
    return {
        "nproc": nproc,
        "master": master,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "contended": load_before > nproc * 0.5,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "spark": spark_version,
        "python": platform.python_version(),
    }
