"""HTTP/file staging fetch (Tier A A1).

The reference shells out to curl for a GitHub-release CSV
(/root/reference/ingest_data.py:16-26, URL template :18). Spark
executors read filesystems/object stores, not arbitrary HTTP, so the
Spark-first shape is: a *driver-side* fetch into a staging directory,
then a distributed ``spark.read`` over the staged file(s).

At 100 TB nobody fetches over HTTP on the driver — data lands in an
object store and Spark reads it directly (see object_store.py); this
connector exists for the reference's bootstrap use case and supports
``file://`` URLs so tests run offline.
"""

from __future__ import annotations

import os
import shutil
import urllib.request


def fetch_to_staging(url: str, staging_dir: str, timeout_s: int = 60) -> str:
    """Fetch ``url`` into ``staging_dir`` and return the local path.

    Mirrors the reference's partition-dir convention: the caller builds
    staging_dir as ``{output_dir}/{color}_taxi/{year}/{month}``
    (ingest_data.py:20-22); we just create it on demand.
    """
    os.makedirs(staging_dir, exist_ok=True)
    dest = os.path.join(staging_dir, url.rstrip("/").rsplit("/", 1)[-1])
    if url.startswith("file://"):
        shutil.copyfile(url[len("file://") :], dest)
        return dest
    with urllib.request.urlopen(url, timeout=timeout_s) as resp:  # noqa: S310
        with open(dest, "wb") as f:
            shutil.copyfileobj(resp, f)
    return dest
