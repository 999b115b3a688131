"""Namespace fetch — the `/fetchNamespace` ops story (VERDICT r5 #7).

The reference downloads the newest checkpoint from the active NameNode
over the image-transfer HTTP endpoint and drops it into its namespace
directory (TransferFsImageWrapper.java:43-100: resolves the most recent
fsimage via the NN's MD5 metadata, streams
``/imagetransfer?getimage=1&txid=latest`` to disk, then hands the file
to the loader). This module is the same convenience glue, Spark-side:

    path = fetch_namespace("http://nn:9870", "/data/namespace")
    df = read_fsimage_binary(spark, path)        # or fetch_and_load(...)

Design notes:
- The download is driver-side file plumbing, not a distributed job —
  an fsimage is one unsplittable protobuf container; parallelism starts
  at the decode step (see fsimage.py). Streaming 1 MiB copy keeps
  memory flat for multi-GB images.
- ``transport`` is injectable (url -> file-like of bytes) so tests and
  air-gapped environments don't need a NameNode; the default is
  urllib over HTTP(S).
- The first 8 bytes are validated against the fsimage magic BEFORE the
  file is kept: a misconfigured endpoint returning an HTML error page
  fails loudly instead of poisoning the namespace dir.
"""

from __future__ import annotations

import os
from typing import BinaryIO, Callable

from pyspark.sql import DataFrame, SparkSession

from nnanalytics_spark.sources.fsimage import MAGIC, read_fsimage_binary

# the image-transfer servlet path + query the NameNode serves checkpoints
# on (public HDFS HTTP API; txid=latest picks the newest checkpoint)
IMAGE_TRANSFER_PATH = "/imagetransfer?getimage=1&txid=latest"


def _default_transport(url: str) -> BinaryIO:
    from urllib.request import urlopen

    if not url.startswith(("http://", "https://")):
        raise ValueError(f"namenode url must be http(s), got {url!r}")
    return urlopen(url)  # noqa: S310 — scheme validated above


def fetch_namespace(
    namenode_url: str,
    dest_dir: str,
    transport: Callable[[str], BinaryIO] | None = None,
    filename: str = "fsimage_fetched",
) -> str:
    """Stream the active NameNode's latest checkpoint into ``dest_dir``
    and return the local path. ``namenode_url`` is the NN HTTP address
    (e.g. ``http://nn:9870``); the image-transfer servlet path is
    appended. Validates the fsimage magic before keeping the file."""
    import tempfile

    url = namenode_url.rstrip("/") + IMAGE_TRANSFER_PATH
    opener = transport or _default_transport
    os.makedirs(dest_dir, exist_ok=True)
    out_path = os.path.join(dest_dir, filename)
    # unique temp name: two overlapping fetches into the same dir must
    # never interleave writes into one .part file (the atomic rename
    # would then publish a mixed image whose magic still validates)
    fd, tmp_path = tempfile.mkstemp(prefix=filename + ".part.", dir=dest_dir)
    chunk = 1 << 20
    src = opener(url)
    try:
        with os.fdopen(fd, "wb") as dst:
            head = src.read(len(MAGIC))
            if head != MAGIC:
                raise ValueError(
                    f"endpoint {url} did not return an fsimage "
                    f"(first bytes {head!r}; expected {MAGIC!r})"
                )
            dst.write(head)
            while True:
                buf = src.read(chunk)
                if not buf:
                    break
                dst.write(buf)
    except BaseException:
        if os.path.exists(tmp_path):
            os.unlink(tmp_path)
        raise
    finally:
        close = getattr(src, "close", None)
        if close:
            close()
    os.replace(tmp_path, out_path)  # atomic: readers never see a partial
    return out_path


def fetch_and_load(
    spark: SparkSession,
    namenode_url: str,
    dest_dir: str,
    transport: Callable[[str], BinaryIO] | None = None,
    **load_kwargs,
) -> DataFrame:
    """fetch_namespace + read_fsimage_binary in one call — the
    `fetch -> load -> refresh` convenience the reference exposes as
    /fetchNamespace. ``load_kwargs`` pass through to the loader
    (batch, scratch_dir)."""
    path = fetch_namespace(namenode_url, dest_dir, transport=transport)
    return read_fsimage_binary(spark, path, **load_kwargs)
