"""S3-compatible :class:`~.storage.Storage` backend — stdlib only.

The reference drives S3 with boto3 (listing ``src/main/read/aws_read.py:
7-22``, download ``src/main/download/aws_file_download.py:12-25``,
upload ``src/main/upload/upload_to_s3.py:10-24``, copy+delete move
``src/main/move/move_files.py:26-62``). No cloud SDK ships in this
container, so this adapter speaks the S3 REST API directly with
``urllib`` + ``hmac`` and real AWS Signature Version 4 request signing
— the exact wire protocol boto3 emits, verified here against AWS's
published SigV4 test vectors (``tests/test_storage_s3.py`` pins the
three documented example signatures) and exercised end-to-end against
an in-process S3-compatible HTTP server. Works unchanged against
MinIO/localstack-style endpoints (path-style addressing) and real AWS.

Usage::

    from retail_sales_data_pipeline_spark import storage
    from retail_sales_data_pipeline_spark.storage_s3 import S3Storage

    storage.register("s3", S3Storage(endpoint_url="http://minio:9000"))
    # ... validate/quarantine/fetch_media now accept s3://bucket/key

Credentials default to the standard environment variables
(``AWS_ACCESS_KEY_ID`` / ``AWS_SECRET_ACCESS_KEY`` /
``AWS_SESSION_TOKEN`` / ``AWS_DEFAULT_REGION`` / ``AWS_ENDPOINT_URL``)
resolved lazily AT REQUEST TIME in whatever process runs the call — the
instance itself holds only strings, so it cloudpickles cleanly into
Arrow workers (``fetch_media(storage=...)``), the same
client-per-process pattern boto3 deployments use.

Scale note (same contract as ``storage.py``): every method here is a
metadata-sized control-plane call (list/copy/delete of object names) or
a single-object read inside one executor task. Bulk data never flows
through this seam — the fact path stays a distributed
``spark.read``/``write`` against an ``s3a://`` filesystem; this adapter
serves the reference's control-plane file choreography
(validate → quarantine/processed moves, cleanup, media pointer fetch).
"""

from __future__ import annotations

import hashlib
import hmac
import io
import os
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET
from datetime import datetime, timezone

_EMPTY_SHA256 = hashlib.sha256(b"").hexdigest()
_UNSIGNABLE = {"authorization", "content-length", "user-agent"}


def _uri_encode(s: str, *, keep_slash: bool = False) -> str:
    """AWS SigV4 URI encoding: unreserved ``A-Za-z0-9-._~`` kept, all
    else percent-encoded uppercase (space → ``%20``, never ``+``)."""
    safe = "-._~/" if keep_slash else "-._~"
    return urllib.parse.quote(s, safe=safe)


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sign_v4(
    method: str,
    host: str,
    path: str,
    query: list[tuple[str, str]],
    headers: dict[str, str],
    payload_hash: str,
    access_key: str,
    secret_key: str,
    region: str,
    amz_date: str,
    service: str = "s3",
) -> str:
    """Compute the SigV4 ``Authorization`` header value.

    ``headers`` must already contain every header that will be sent
    (including ``host`` if not passed separately); all of them are
    signed — signing a superset is always valid, and it removes the
    header-choice ambiguity that causes most SigV4 mismatches. Pinned
    against the worked examples in AWS's "Signature Calculations for
    the Authorization Header" documentation.
    """
    date_scope = amz_date[:8]
    all_headers = {**headers, "host": host}
    canon_headers = sorted(
        (k.lower().strip(), " ".join(str(v).split()))
        for k, v in all_headers.items()
        if k.lower() not in _UNSIGNABLE
    )
    signed_names = ";".join(k for k, _ in canon_headers)
    canonical_request = "\n".join(
        [
            method,
            _uri_encode(path, keep_slash=True),
            # SigV4 sorts the canonical query by the URI-ENCODED key
            # (then encoded value) — raw order can differ, e.g. 'a.' <
            # 'a:' raw but 'a%3A' < 'a.' encoded; sorting raw pairs
            # would SignatureDoesNotMatch on such keys
            "&".join(
                f"{ek}={ev}"
                for ek, ev in sorted(
                    (_uri_encode(k), _uri_encode(v)) for k, v in query
                )
            ),
            "".join(f"{k}:{v}\n" for k, v in canon_headers),
            signed_names,
            payload_hash,
        ]
    )
    scope = f"{date_scope}/{region}/{service}/aws4_request"
    string_to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            hashlib.sha256(canonical_request.encode()).hexdigest(),
        ]
    )
    k = _hmac(f"AWS4{secret_key}".encode(), date_scope)
    k = _hmac(k, region)
    k = _hmac(k, service)
    k = _hmac(k, "aws4_request")
    signature = hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()
    return (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed_names}, Signature={signature}"
    )


class S3ResponseError(RuntimeError):
    """Non-2xx S3 response, with the HTTP status and body excerpt."""

    def __init__(self, status: int, method: str, url: str, body: bytes):
        self.status = status
        super().__init__(
            f"S3 {method} {url} -> HTTP {status}: {body[:300]!r}"
        )


class S3Storage:
    """``s3://bucket/key`` backend over the S3 REST API (SigV4).

    Directory semantics follow the object-store convention: a "dir" is
    a key prefix ending in ``/``; ``makedirs`` is a no-op (prefixes
    need no creation), ``move``/``delete`` recurse over the prefix.
    """

    def __init__(
        self,
        endpoint_url: str | None = None,
        region: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        session_token: str | None = None,
        timeout: float = 60.0,
        page_size: int = 1000,
        max_attempts: int = 4,
    ):
        self.endpoint_url = endpoint_url
        self.region = region
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self.timeout = timeout
        self.page_size = page_size  # ListObjectsV2 max-keys per page
        # transient-failure retries; clamped so max_attempts=0 can't
        # degenerate into `raise None`
        self.max_attempts = max(1, max_attempts)

    # -- config (env fallbacks resolved per call: picklable instance) --

    def _cred(self) -> tuple[str, str, str | None, str]:
        ak = self.access_key or os.environ.get("AWS_ACCESS_KEY_ID")
        sk = self.secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
        tok = self.session_token or os.environ.get("AWS_SESSION_TOKEN")
        region = (
            self.region or os.environ.get("AWS_DEFAULT_REGION") or "us-east-1"
        )
        if not ak or not sk:
            raise ValueError(
                "S3Storage needs credentials: pass access_key/secret_key or "
                "set AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY"
            )
        return ak, sk, tok, region

    def _endpoint(self) -> str:
        ep = self.endpoint_url or os.environ.get("AWS_ENDPOINT_URL")
        if not ep:
            _, _, _, region = self._cred()
            ep = f"https://s3.{region}.amazonaws.com"
        return ep.rstrip("/")

    @staticmethod
    def _split(path: str) -> tuple[str, str]:
        if not path.startswith("s3://"):
            raise ValueError(f"not an s3:// URI: {path!r}")
        bucket, _, key = path[len("s3://"):].partition("/")
        if not bucket:
            raise ValueError(f"s3:// URI missing bucket: {path!r}")
        return bucket, key

    # -- signed request core ------------------------------------------

    # transient statuses a production S3 client must absorb: throttling
    # (503 SlowDown), internal errors (500), bad gateways (502/504)
    _RETRY_STATUSES = (500, 502, 503, 504)

    def _request(
        self,
        method: str,
        bucket: str,
        key: str,
        query: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
        ok_status: tuple[int, ...] = (200, 204),
    ) -> tuple[int, bytes, dict[str, str]]:
        """One signed request with BOUNDED exponential-backoff retries
        on transient failures (5xx + connection errors), the standard
        S3-client contract: real buckets throttle with 503 SlowDown as
        request rate ramps, and giving up on the first one would make
        every control-plane pass flaky at scale. Retries are safe for
        every verb used here — GET/HEAD/LIST are reads, DELETE is
        idempotent, and PUT resends identical bytes (a conditional PUT
        whose first attempt actually landed fails its own retry with
        412, which the commit fence already treats as a lost race —
        never a double commit). 4xx responses fail fast. Each attempt
        is RE-SIGNED (fresh x-amz-date): a backoff can cross SigV4's
        clock-skew window."""
        import time

        last: Exception | None = None
        for attempt in range(self.max_attempts):
            if attempt:
                time.sleep(min(2.0, 0.1 * (2 ** (attempt - 1))))
            try:
                return self._request_once(
                    method, bucket, key, query, body, extra_headers,
                    ok_status,
                )
            except S3ResponseError as e:
                if e.status not in self._RETRY_STATUSES:
                    raise
                last = e
            except (urllib.error.URLError, ConnectionError, TimeoutError) as e:
                last = e
        raise last

    def _request_once(
        self,
        method: str,
        bucket: str,
        key: str,
        query: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
        ok_status: tuple[int, ...] = (200, 204),
    ) -> tuple[int, bytes, dict[str, str]]:
        ak, sk, tok, region = self._cred()
        endpoint = self._endpoint()
        parsed = urllib.parse.urlparse(endpoint)
        # path-style addressing: MinIO-compatible, and no DNS games
        path = f"/{bucket}" + (f"/{key}" if key else "")
        query = query or []
        amz_date = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
        payload_hash = (
            hashlib.sha256(body).hexdigest() if body else _EMPTY_SHA256
        )
        headers = {
            "x-amz-date": amz_date,
            "x-amz-content-sha256": payload_hash,
            **(extra_headers or {}),
        }
        if tok:
            headers["x-amz-security-token"] = tok
        headers["Authorization"] = sign_v4(
            method, parsed.netloc, path, query, headers,
            payload_hash, ak, sk, region, amz_date,
        )
        qs = "&".join(
            f"{_uri_encode(k)}={_uri_encode(v)}" for k, v in sorted(query)
        )
        url = f"{endpoint}{_uri_encode(path, keep_slash=True)}" + (
            f"?{qs}" if qs else ""
        )
        req = urllib.request.Request(
            url, data=body if body else None, method=method, headers=headers
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, resp.read(), dict(resp.headers)
        except urllib.error.HTTPError as e:
            status, data = e.code, e.read()
            if status in ok_status:
                return status, data, dict(e.headers)
            if status == 404:
                raise FileNotFoundError(f"s3://{bucket}/{key}") from None
            if status == 412:
                from .storage import PreconditionFailed

                raise PreconditionFailed(
                    f"s3://{bucket}/{key}: conditional {method} rejected "
                    "(object changed under this writer)"
                ) from None
            raise S3ResponseError(status, method, url, data) from None

    # -- ListObjectsV2 (paginated) ------------------------------------

    def _list_page(
        self, bucket: str, prefix: str, delimiter: str, token: str | None
    ) -> tuple[list[str], list[str], str | None]:
        query = [("list-type", "2"), ("max-keys", str(self.page_size))]
        if prefix:
            query.append(("prefix", prefix))
        if delimiter:
            query.append(("delimiter", delimiter))
        if token:
            query.append(("continuation-token", token))
        _, data, _ = self._request("GET", bucket, "", query=query)
        root = ET.fromstring(data)

        def local(tag: str) -> str:  # strip xmlns (present on AWS/MinIO)
            return tag.rsplit("}", 1)[-1]

        keys, prefixes, next_token = [], [], None
        for child in root:
            name = local(child.tag)
            if name == "Contents":
                for f in child:
                    if local(f.tag) == "Key":
                        keys.append(f.text or "")
            elif name == "CommonPrefixes":
                for f in child:
                    if local(f.tag) == "Prefix":
                        prefixes.append(f.text or "")
            elif name == "NextContinuationToken":
                next_token = child.text
            elif name == "IsTruncated" and (child.text or "") == "false":
                pass
        return keys, prefixes, next_token

    def _iter_keys(
        self, bucket: str, prefix: str, delimiter: str = ""
    ) -> tuple[list[str], list[str]]:
        keys: list[str] = []
        prefixes: list[str] = []
        token: str | None = None
        while True:
            page_keys, page_prefixes, token = self._list_page(
                bucket, prefix, delimiter, token
            )
            keys.extend(page_keys)
            prefixes.extend(page_prefixes)
            if not token:
                return keys, prefixes

    # -- Storage protocol ---------------------------------------------

    def read_bytes(self, path: str) -> bytes:
        bucket, key = self._split(path)
        _, data, _ = self._request("GET", bucket, key)
        return data

    def put_bytes(
        self,
        path: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        """Upload one object (reference ``upload_to_s3.py`` parity).
        Returns the new object's ETag.

        CONDITIONAL WRITES (the public S3 conditional-write protocol,
        honored by AWS S3, GCS-interop, MinIO, R2): ``if_none_match``
        sends ``If-None-Match: *`` — the PUT succeeds only if no object
        exists at the key; ``if_match`` sends ``If-Match: <etag>`` — it
        succeeds only if the current object's ETag still matches. A
        rejected precondition raises
        :class:`..storage.PreconditionFailed` (HTTP 412). This is the
        atomic compare-and-swap the manifest commit fence builds on
        (:mod:`..table_io`)."""
        bucket, key = self._split(path)
        extra: dict[str, str] = {}
        if if_none_match:
            extra["If-None-Match"] = "*"
        if if_match is not None:
            # S3 ETags are quoted strings on the wire; accept either form
            extra["If-Match"] = (
                if_match if if_match.startswith('"') else f'"{if_match}"'
            )
        _, _, headers = self._request(
            "PUT", bucket, key, body=data, extra_headers=extra or None
        )
        return self._etag_of(headers)

    @staticmethod
    def _etag_of(headers: dict[str, str]) -> str:
        etag = {k.lower(): v for k, v in headers.items()}.get("etag", "")
        return etag.strip('"')

    def read_bytes_meta(self, path: str) -> tuple[bytes, str]:
        """One GET returning ``(body, etag)`` — the read half of the
        ETag compare-and-swap commit."""
        bucket, key = self._split(path)
        _, data, headers = self._request("GET", bucket, key)
        return data, self._etag_of(headers)

    def head(self, path: str) -> dict:
        """Object metadata without the body: ``{"size", "mtime",
        "etag"}`` (one HEAD request)."""
        from email.utils import parsedate_to_datetime

        bucket, key = self._split(path)
        _, _, headers = self._request("HEAD", bucket, key)
        h = {k.lower(): v for k, v in headers.items()}
        lm = h.get("last-modified")
        return {
            "size": int(h.get("content-length", 0)),
            "mtime": parsedate_to_datetime(lm).timestamp() if lm else 0.0,
            "etag": self._etag_of(headers),
        }

    stat = head  # size and mtime; the ETag comes with them for free

    def input_file(self, path: str) -> "_RangedFile":
        """What pyarrow opens for random-access reads: a file whose
        every read is one ranged GET, so a parquet footer read costs a
        HEAD plus ~3 small GETs at any object size."""
        return _RangedFile(self, path, self.head(path)["size"])

    def read_range(self, path: str, start: int, length: int) -> bytes:
        """Ranged GET of ``length`` bytes at ``start`` — what keeps a
        parquet FOOTER read footer-priced at any object size (used by
        :class:`_RangedFile`)."""
        bucket, key = self._split(path)
        _, data, _ = self._request(
            "GET",
            bucket,
            key,
            extra_headers={"Range": f"bytes={start}-{start + length - 1}"},
            ok_status=(200, 206),
        )
        return data

    def list(self, dir_path: str) -> list[str]:
        """One level, like ``LocalStorage.list``: objects and child
        "directories" (common prefixes) directly under ``dir_path``.

        Contract parity with the local backend: an existing-but-empty
        location returns ``[]``, a missing one raises. Object stores
        have no empty directories, so "existing" is defined at the
        bucket level — a successful ListObjectsV2 (HTTP 200, even with
        zero results) proves the bucket exists and yields ``[]``; a
        typo'd/missing bucket 404s inside ``_iter_keys`` and surfaces
        as FileNotFoundError. This matters to the quarantine/archive
        flow (``validate.py``), which legitimately EMPTIES the landing
        prefix and then re-lists it — that must be a no-op, not a
        crash, on both backends."""
        files, dirs = self._level(dir_path)
        return sorted(files + dirs)

    def list_files(self, dir_path: str) -> list[str]:
        """The objects of :meth:`list`, without its common prefixes —
        the same one paginated LIST, no per-entry probe."""
        return sorted(self._level(dir_path)[0])

    def _level(self, dir_path: str) -> tuple[list[str], list[str]]:
        bucket, key = self._split(dir_path)
        prefix = key if not key or key.endswith("/") else key + "/"
        keys, prefixes, = self._iter_keys(bucket, prefix, delimiter="/")
        return [f"s3://{bucket}/{k}" for k in keys if k != prefix], [
            f"s3://{bucket}/{p.rstrip('/')}" for p in prefixes
        ]

    def exists(self, path: str) -> bool:
        bucket, key = self._split(path)
        if not key:
            # bucket root: probe the bucket itself (a typo'd bucket
            # must not read as existing)
            try:
                self._list_page(bucket, "", "", None)
                return True
            except FileNotFoundError:
                return False
        try:
            self._request("HEAD", bucket, key)
            return True
        except FileNotFoundError:
            return self.is_dir(path)

    def is_dir(self, path: str) -> bool:
        bucket, key = self._split(path)
        if not key:
            return True
        prefix = key if key.endswith("/") else key + "/"
        try:
            keys, prefixes, _ = self._list_page(bucket, prefix, "", None)
        except FileNotFoundError:
            # a 404 here means the BUCKET is missing (ListObjectsV2 on
            # an empty prefix is a 200): not a directory, not an error
            return False
        return bool(keys or prefixes)

    def makedirs(self, dir_path: str) -> None:
        self._split(dir_path)  # validate URI; prefixes need no creation

    def _copy(self, src_bucket: str, src_key: str, dst: str) -> None:
        dbucket, dkey = self._split(dst)
        self._request(
            "PUT",
            dbucket,
            dkey,
            extra_headers={
                "x-amz-copy-source": _uri_encode(
                    f"/{src_bucket}/{src_key}", keep_slash=True
                )
            },
        )

    def copy(self, src: str, dst: str) -> None:
        """Server-side single-object copy (``x-amz-copy-source``) — the
        byte-copy primitive the manifest protocol's append ADOPTION
        uses: the object never flows through the driver."""
        sbucket, skey = self._split(src)
        self._copy(sbucket, skey, dst)

    def move(self, src: str, dst: str) -> None:
        """Server-side copy + delete — the object-store "move" (and the
        reference's own ``move_files.py`` semantics). NOT atomic: a
        crash between copy and delete leaves both objects, which the
        idempotent callers (quarantine/archive) tolerate."""
        sbucket, skey = self._split(src)
        if self.is_dir(src) and not self._head_ok(sbucket, skey):
            prefix = skey if skey.endswith("/") else skey + "/"
            keys, _ = self._iter_keys(sbucket, prefix)
            for k in keys:
                self._copy(sbucket, k, f"{dst}/{k[len(prefix):]}")
                self._request("DELETE", sbucket, k)
        else:
            self._copy(sbucket, skey, dst)
            self._request("DELETE", sbucket, skey)

    def _head_ok(self, bucket: str, key: str) -> bool:
        try:
            self._request("HEAD", bucket, key)
            return True
        except FileNotFoundError:
            return False

    def delete(self, path: str) -> None:
        bucket, key = self._split(path)
        if self._head_ok(bucket, key):
            self._request("DELETE", bucket, key)
            return
        if self.is_dir(path):
            prefix = key if key.endswith("/") else key + "/"
            keys, _ = self._iter_keys(bucket, prefix)
            for k in keys:
                self._request("DELETE", bucket, k)
            return
        raise FileNotFoundError(path)


class _RangedFile(io.RawIOBase):
    """Seekable read-only file over one object, each read served by
    :meth:`S3Storage.read_range` — for pyarrow footer reads."""

    def __init__(self, store: S3Storage, path: str, size: int):
        self._store = store
        self._path = path
        self._size = size
        self._pos = 0

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        data = self._store.read_range(self._path, self._pos, n)
        # clamp: a server/proxy that ignores the Range header answers
        # 200 + the WHOLE object; returning more than n violates the
        # file contract and would corrupt pyarrow's footer parse
        if len(data) > n:
            data = data[self._pos:self._pos + n] if len(
                data
            ) == self._size else data[:n]
        self._pos += len(data)
        return data

    def size(self) -> int:  # pyarrow probes this when present
        return self._size
