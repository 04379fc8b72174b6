"""Object-store (S3) storage backend — reference parity R15, RUN-PROVEN.

Mirrors the reference's ``S3DatalakeStorage.java`` semantics line by line
(giselabcruz/tscd-datalake-adapter):

- key layout ``{prefix}datalake/{yyyyMMdd}/{HH}/{id}.{body|header}.txt``
  (``S3DatalakeStorage.java:142-150``), UTC-naive timestamps;
- ``save_book``: put body + header objects, then delete the staging files;
  missing staging files raise (``S3DatalakeStorage.java:33-62``);
- ``exists``: paginated ``ListObjectsV2`` (``maxKeys=1000``) scanning for a
  ``/{id}.body.txt`` suffix — deliberately the reference's O(total objects)
  sequential scan (``S3DatalakeStorage.java:64-86``);
- ``list_books``: same pagination, parse the id before the first dot of the
  filename, ignore unparsable, return sorted distinct
  (``S3DatalakeStorage.java:89-119``);
- ``ensure_bucket_exists``: head → create, tolerating already-owned
  (``S3DatalakeStorage.java:127-140``).

Spark-first scale additions the reference lacks (its listing cost note is
in BASELINE.md): ``list_books_distributed`` fans the day prefixes out to
EXECUTOR tasks (one boto3 client per task, each paginating only its own
``datalake/{day}/`` prefix — listing parallelism = number of day
partitions, the same partition-pruning idea the lake's hive layout uses),
and ``fetch_books_df`` GETs object bodies inside ``mapInPandas`` so bulk
retrieval scales with executors instead of the driver NIC. For query-able
lake state at 100 TB, ``LakeAdapter`` (delta or iceberg) remains the real
path (its ``exists`` answers from the table format's per-file metadata,
not a bucket scan) — this module proves the object-store wire protocol and
layout parity.

The test suite runs all of it against a real S3 wire-protocol server
(``moto.server.ThreadedMotoServer``) — requests go over HTTP, so paging,
continuation tokens, and error codes are the genuine article rather than
mocks. Config mirrors ``session.py``'s R15 gate env vars
(``S3_ENDPOINT_URL`` / ``S3_BUCKET`` / ``AWS_*``).
"""

from __future__ import annotations

import os
from datetime import datetime

try:  # feature-gated: boto3 is present in this environment, but stay honest
    import boto3
except ImportError:  # pragma: no cover
    boto3 = None

_PAGE_SIZE = 1000  # reference maxKeys (S3DatalakeStorage.java:75,99)


def _require_boto3():
    if boto3 is None:  # pragma: no cover
        raise NotImplementedError(
            "S3DatalakeStorage requires boto3 (not installed in this "
            "environment); LakeAdapter (delta or iceberg) is the supported "
            "backend"
        )


def _client(endpoint_url: str | None, region: str, access_key: str, secret_key: str):
    _require_boto3()
    return boto3.client(
        "s3",
        endpoint_url=endpoint_url,
        region_name=region,
        aws_access_key_id=access_key,
        aws_secret_access_key=secret_key,
    )


class S3DatalakeStorage:
    """boto3 twin of the reference's S3 storage port (see module docstring).

    ``page_size`` is the reference's ``maxKeys=1000`` — configurable so
    tests can force multi-page listings without writing 1000 objects.
    """

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        endpoint_url: str | None = None,
        region: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        page_size: int = _PAGE_SIZE,
    ):
        self.bucket = bucket
        self.prefix = prefix
        self.endpoint_url = endpoint_url or os.environ.get("S3_ENDPOINT_URL") or None
        self.region = region or os.environ.get("AWS_REGION", "us-east-1")
        self.access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID", "test")
        self.secret_key = secret_key or os.environ.get(
            "AWS_SECRET_ACCESS_KEY", "test"
        )
        self.page_size = page_size
        self.s3 = _client(
            self.endpoint_url, self.region, self.access_key, self.secret_key
        )
        self.ensure_bucket_exists()

    # --- layout (S3DatalakeStorage.java:121-124,142-150) -------------------

    @staticmethod
    def _day(ts: datetime) -> str:
        return ts.strftime("%Y%m%d")

    @staticmethod
    def _hour(ts: datetime) -> str:
        return ts.strftime("%H")

    def relative_path_for(self, book_id: int, ts: datetime) -> str:
        """``datalake/{yyyyMMdd}/{HH}/{id}`` (S3DatalakeStorage.java:121-124
        — note: WITHOUT the base prefix, exactly like the reference)."""
        return f"datalake/{self._day(ts)}/{self._hour(ts)}/{book_id}"

    def _folder_for(self, ts: datetime) -> str:
        return f"{self.prefix}datalake/{self._day(ts)}/{self._hour(ts)}/"

    def body_key(self, book_id: int, ts: datetime) -> str:
        return f"{self._folder_for(ts)}{book_id}.body.txt"

    def header_key(self, book_id: int, ts: datetime) -> str:
        return f"{self._folder_for(ts)}{book_id}.header.txt"

    # --- bucket bootstrap (S3DatalakeStorage.java:127-140) ------------------

    def ensure_bucket_exists(self) -> None:
        try:
            self.s3.head_bucket(Bucket=self.bucket)
        except Exception:
            try:
                self.s3.create_bucket(Bucket=self.bucket)
            except Exception as e:  # tolerate already-owned, like the ref
                code = getattr(e, "response", {}).get("Error", {}).get("Code")
                if code not in ("BucketAlreadyOwnedByYou", "BucketAlreadyExists"):
                    raise

    # --- save (S3DatalakeStorage.java:33-62) --------------------------------

    def save_book(self, book_id: int, staging_dir: str, ts: datetime) -> None:
        body_src = os.path.join(staging_dir, f"{book_id}_body.txt")
        header_src = os.path.join(staging_dir, f"{book_id}_header.txt")
        if not (os.path.exists(body_src) and os.path.exists(header_src)):
            raise IOError(
                f"Missing source files for book {book_id} at "
                f"{os.path.abspath(staging_dir)}"
            )
        for src, key in (
            (body_src, self.body_key(book_id, ts)),
            (header_src, self.header_key(book_id, ts)),
        ):
            with open(src, "rb") as fh:
                self.s3.put_object(
                    Bucket=self.bucket,
                    Key=key,
                    Body=fh.read(),
                    ContentType="text/plain; charset=utf-8",
                )
        os.remove(body_src)
        os.remove(header_src)

    # --- paginated listings (S3DatalakeStorage.java:64-119) -----------------

    def _iter_keys(self, prefix: str):
        token = None
        while True:
            kwargs = dict(
                Bucket=self.bucket, Prefix=prefix, MaxKeys=self.page_size
            )
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.s3.list_objects_v2(**kwargs)
            for obj in resp.get("Contents", []):
                yield obj["Key"]
            if not resp.get("IsTruncated"):
                return
            token = resp.get("NextContinuationToken")

    def exists(self, book_id: int) -> bool:
        """The reference's O(total objects) sequential scan, faithfully —
        the parquet ``LakeAdapter.exists`` (pushed-filter probe) is the
        scale path; this is wire-protocol parity."""
        needle = f"/{book_id}.body.txt"
        search = f"{self.prefix}datalake/"
        return any(k.endswith(needle) for k in self._iter_keys(search))

    @staticmethod
    def _parse_book_id(key: str) -> int | None:
        fname = key.rsplit("/", 1)[-1]
        dot = fname.find(".")
        if dot <= 0:
            return None
        try:
            return int(fname[:dot])
        except ValueError:
            return None

    def list_books(self) -> list[int]:
        search = f"{self.prefix}datalake/"
        ids = {
            bid
            for k in self._iter_keys(search)
            if k.endswith(".body.txt")
            and (bid := self._parse_book_id(k)) is not None
        }
        return sorted(ids)

    # --- Spark-first scale paths (this repo's additions) --------------------

    def day_prefixes(self) -> list[str]:
        """One delimiter-listing call returns the day partitions — the
        driver-side metadata step ahead of the distributed listing."""
        resp = self.s3.list_objects_v2(
            Bucket=self.bucket,
            Prefix=f"{self.prefix}datalake/",
            Delimiter="/",
        )
        return sorted(
            cp["Prefix"] for cp in resp.get("CommonPrefixes", [])
        )

    def list_books_distributed(self, spark):
        """listBooks as executor-parallel prefix scans: each task lists ONE
        ``datalake/{day}/`` prefix with its own boto3 client. Listing cost
        drops from O(total objects, sequential) to O(objects per day) per
        task — the object-store analogue of partition pruning. Returns a
        DataFrame (book_id, day, hour, key) for further relational work."""
        import pandas as pd  # noqa: F401  (mapInPandas contract)

        cfg = (
            self.endpoint_url,
            self.region,
            self.access_key,
            self.secret_key,
            self.bucket,
            self.page_size,
        )
        prefixes = self.day_prefixes()
        if not prefixes:
            return spark.createDataFrame(
                [], "book_id long, day string, hour string, key string"
            )

        def scan(batches):
            endpoint, region, ak, sk, bucket, page = cfg
            s3 = _client(endpoint, region, ak, sk)
            for pdf in batches:
                out = {"book_id": [], "day": [], "hour": [], "key": []}
                for pfx in pdf["prefix"]:
                    token = None
                    while True:
                        kwargs = dict(Bucket=bucket, Prefix=pfx, MaxKeys=page)
                        if token:
                            kwargs["ContinuationToken"] = token
                        resp = s3.list_objects_v2(**kwargs)
                        for obj in resp.get("Contents", []):
                            k = obj["Key"]
                            if not k.endswith(".body.txt"):
                                continue
                            bid = S3DatalakeStorage._parse_book_id(k)
                            if bid is None:
                                continue
                            parts = k.split("/")
                            out["book_id"].append(bid)
                            out["day"].append(parts[-3])
                            out["hour"].append(parts[-2])
                            out["key"].append(k)
                        if not resp.get("IsTruncated"):
                            break
                        token = resp.get("NextContinuationToken")
                import pandas as pd

                yield pd.DataFrame(out)

        pdf = spark.createDataFrame(
            [(p,) for p in prefixes], "prefix string"
        ).repartition(len(prefixes), "prefix")
        return pdf.mapInPandas(
            scan, "book_id long, day string, hour string, key string"
        )

    def fetch_books_df(self, spark, keys: list[str]):
        """Bulk object retrieval on EXECUTORS: keys fan out over tasks, each
        task GETs its slice with its own client — the driver never touches
        object bytes. Returns (key, body)."""
        cfg = (
            self.endpoint_url,
            self.region,
            self.access_key,
            self.secret_key,
            self.bucket,
        )

        def fetch(batches):
            endpoint, region, ak, sk, bucket = cfg
            s3 = _client(endpoint, region, ak, sk)
            import pandas as pd

            for pdf in batches:
                bodies = [
                    s3.get_object(Bucket=bucket, Key=k)["Body"]
                    .read()
                    .decode("utf-8")
                    for k in pdf["key"]
                ]
                yield pd.DataFrame({"key": list(pdf["key"]), "body": bodies})

        kdf = spark.createDataFrame([(k,) for k in keys], "key string")
        n = max(1, min(len(keys), spark.sparkContext.defaultParallelism))
        return kdf.repartition(n).mapInPandas(fetch, "key string, body string")
