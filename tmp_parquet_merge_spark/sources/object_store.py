"""Object-store (S3) key-value footer stamping — the s3a analog of
:func:`parquet_io.attach_kv_metadata`.

The reference dumps footer key-value metadata
(`/root/reference/cpp/tools/parquet/parquet_reader.cc:46-47`); our
engine stamps it.  On a local/shared FS the stamp is a POSIX append
(parquet_io.attach_kv_metadata).  Object stores have no append — the
design decision (SURVEY §7) kept a loud refusal rather than dress an
O(data) rewrite up as a stamp.  This module implements the adjudicated
O(footer) design instead, using the S3 API's server-side primitives:

1. ranged GET of the object tail (footer + length + magic only);
2. rebuild the footer locally with the merged key-value metadata —
   byte-for-byte the same rebuild the local stamp performs;
3. recompose the object with a multipart upload whose data parts are
   ``UploadPartCopy`` ranges of the ORIGINAL object (server-side copy:
   no byte of data crosses the wire) and whose final part is the new
   footer;
4. ``CompleteMultipartUpload`` swaps the object atomically.

Client-side traffic is O(footer) regardless of object size.  Like the
local stamp, the old footer is left in place as dead bytes (readers
resolve the footer from the trailing length+magic), which keeps the
copy ranges trivially right: parts cover [0, size) of the original.

Atomicity is STRONGER than the local path: S3 readers see the old or
the new object, never a torn tail.  Concurrent-writer safety is
end-to-end (closing the lost-update window): the
tail GET, every ``UploadPartCopy``, and the final
``CompleteMultipartUpload`` are all pinned to the generation the
stamp read — ``CopySourceIfMatch`` on each copy part, ``IfMatch`` on
the complete (the public S3 conditional-writes API, GA Nov 2024), and
on versioned buckets additionally an explicit ``VersionId`` on the
tail GET and every copy source, so a concurrent PUT landing anywhere
between the tail read and the complete fails the stamp with a
``PreconditionFailed`` instead of being clobbered with
old-data+new-footer (or splicing two generations).  Callers retry the
whole stamp_one.  Object tags (``TagSet``) are carried like the rest
of the object-level metadata — the carry needs
``s3:GetObjectTagging`` (+ ``PutObjectTagging`` when tags exist); a
caller without that grant gets a loud warning and a tag-less stamp
rather than a failure, so the tag feature never grows the minimal
permission surface retroactively.  Non-default ACLs are OUT OF SCOPE (the
recomposed object takes the bucket-policy default — carrying ACLs
would require s3:GetObjectAcl/PutObjectAcl grants the stamp
deliberately does not demand).  Object-lock notes: on a versioned
bucket the stamp writes a NEW version and lock retention/legal-hold
keeps protecting the old versions (the stamp never deletes them);
MFA-delete likewise gates deletes, not writes, so stamping proceeds —
the refusal surface is S3's own ``AccessDenied`` if bucket policy
forbids the overwrite.

Objects smaller than the 5 MiB multipart part-minimum use a plain
read-modify-put (O(size), but size < 5 MiB by definition).

boto3 is imported lazily; without it the functions raise ImportError
with the install hint, and everything else in the package is
unaffected.  Tested against moto's in-process S3 (tests/
test_object_store.py) — both the multipart and the small-object path,
plus the ETag-conflict abort.
"""

from __future__ import annotations

import io
import os
import tempfile
from concurrent.futures import ThreadPoolExecutor

# S3 multipart constraints: every part except the last must be at
# least 5 MiB; UploadPartCopy ranges may be at most 5 GiB.
_MIN_PART = 5 * 1024 * 1024
_MAX_PART = 5 * 1024 * 1024 * 1024
# footer window for the ranged tail GET; parquet footers are
# KBs-to-MBs, never data-sized (same bound as the local recover_tail)
_TAIL_WINDOW = 32 * 1024 * 1024


def _s3_client():
    try:
        import boto3
    except ImportError as exc:  # pragma: no cover - boto3 is bundled here
        raise ImportError(
            "object-store kv stamping needs boto3 (pip install boto3); "
            "for local/shared-FS paths use parquet_io.attach_kv_metadata"
        ) from exc
    return boto3.client("s3")


def _error_code(exc: Exception) -> str | None:
    """botocore error-code extraction, shared by every ClientError
    branch (the 404-vs-listing fallback and the tag-fetch degradation)
    so the response-shape parsing lives in one place."""
    return getattr(exc, "response", {}).get("Error", {}).get("Code")


def _bare_etag(etag: str) -> str:
    """One ETag spelling for every conditional parameter (otherwise
    CopySourceIfMatch gets the quoted head_object ETag while the
    IfMatch params get it stripped — AWS accepts both, but a strict
    S3-compatible implementation could accept one and reject the
    other, failing one path spuriously).  Canonical form here: bare
    (no surrounding quotes)."""
    return etag.strip('"')


def _require_conditional_writes(s3) -> None:
    """Fail LOUDLY when the SDK cannot even send the conditional-write
    params the concurrency guarantee rests on.  IfMatch
    on PutObject/CompleteMultipartUpload is the S3 conditional-writes
    API (GA Nov 2024; botocore >= 1.35.6x service models).  An older
    botocore would raise ParamValidationError mid-stamp; probing the
    service model up front turns that into one clear setup error.

    KNOWN SCOPE LIMIT (documented, not probe-able without a write):
    S3-compatible stores that ACCEPT and IGNORE If-Match (older MinIO/
    Ceph/GCS-interop, moto) silently reopen the lost-update window —
    the guarantee is only as strong as the backend's conditional-write
    support.  Against such a backend, serialize stampers externally."""
    try:
        members = (
            s3.meta.service_model.operation_model(
                "CompleteMultipartUpload"
            ).input_shape.members
        )
        put_members = s3.meta.service_model.operation_model(
            "PutObject"
        ).input_shape.members
    except Exception:  # pragma: no cover - exotic/stub clients
        return  # cannot introspect: let the call path speak
    if "IfMatch" not in members or "IfMatch" not in put_members:
        raise RuntimeError(
            "stamp_kv_s3: this botocore's S3 model lacks IfMatch on "
            "PutObject/CompleteMultipartUpload (S3 conditional writes, "
            "GA Nov 2024 — needs botocore >= 1.35.65).  Refusing to "
            "stamp without the concurrent-rewrite guard; upgrade "
            "botocore or serialize stampers externally."
        )


def _parse_s3_path(path: str) -> tuple[str, str]:
    for scheme in ("s3://", "s3a://", "s3n://"):
        if path.startswith(scheme):
            rest = path[len(scheme):]
            bucket, _, key = rest.partition("/")
            if not bucket or not key:
                raise ValueError(f"malformed S3 path: {path!r}")
            return bucket, key
    raise ValueError(
        f"not an S3 path: {path!r} (expected s3:// / s3a:// / s3n://)"
    )


class _TailFile:
    """File-like view of a whole object backed by only its tail bytes.

    pyarrow's footer parse seeks from the end and reads the footer; it
    never touches data pages.  Reads that land before the fetched
    window raise loudly (footer wider than the window) instead of
    returning wrong bytes."""

    def __init__(self, size: int, tail: bytes):
        self._size = size
        self._base = size - len(tail)
        self._tail = tail
        self._pos = size
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 1:
            pos += self._pos
        elif whence == 2:
            pos += self._size
        self._pos = pos
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        if self._pos < self._base:
            raise ValueError(
                "parquet footer exceeds the "
                f"{_TAIL_WINDOW}-byte tail window (read at {self._pos}, "
                f"window starts {self._base}); raise _TAIL_WINDOW"
            )
        off = self._pos - self._base
        out = self._tail[off : off + n]
        self._pos += len(out)
        return out

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def flush(self) -> None:  # pragma: no cover - pyarrow may call it
        pass

    def close(self) -> None:
        self.closed = True


def _rebuild_footer(tail_file, kv_bytes: dict[bytes, bytes]) -> bytes:
    """Parse the footer from a file-like and rebuild it with merged
    key-value metadata — the same rebuild (and the same INT96 and
    mixed-timestamp rules) as the local attach_kv_metadata.

    SYNC NOTE: parquet_io.attach_kv_metadata's executor closure
    carries a deliberately self-contained copy of this rebuild (it
    must ship to executors without the package importable); any change
    to the kv-merge, INT96 flag, or mixed-timestamp refusal here must
    land there too, and vice versa — both sites carry this note."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(tail_file)
    md = pf.metadata
    merged = dict(md.metadata or {})
    merged.update(kv_bytes)
    schema = pf.schema_arrow.with_metadata(merged)
    phys = [md.schema.column(c).physical_type for c in range(md.num_columns)]
    has_int96 = "INT96" in phys
    n_ts_arrow = sum(pa.types.is_timestamp(f.type) for f in pf.schema_arrow)
    if has_int96 and n_ts_arrow > phys.count("INT96"):
        raise ValueError(
            "object-store stamp: file mixes INT96 and non-INT96 "
            "timestamp columns; the rebuilt footer cannot match both "
            "(pyarrow's int96 flag is writer-global)"
        )
    fd, tmp = tempfile.mkstemp(suffix="._md")
    os.close(fd)
    try:
        pq.write_metadata(
            schema,
            tmp,
            metadata_collector=[md],
            use_deprecated_int96_timestamps=has_int96,
        )
        blob = open(tmp, "rb").read()
    finally:
        os.unlink(tmp)
    # blob = PAR1 + footer + len + PAR1; the head magic already exists
    # at offset 0 of the object, so only blob[4:] is appended.
    return blob[4:]


def stamp_kv_s3(
    path: str,
    kv: dict[str, str],
    *,
    client=None,
    part_size: int = 512 * 1024 * 1024,
    max_workers: int = 16,
) -> int:
    """Stamp key-value footer metadata onto `.parquet` objects under an
    S3 path (single object or prefix), O(footer) client traffic per
    object.  Returns the number of objects stamped.

    Per object: ranged-GET the tail, rebuild the footer with the merged
    kv (identical rules to the local stamp), then recompose via
    multipart upload — ``UploadPartCopy`` ranges of the original object
    (server-side, ``CopySourceIfMatch`` pinned to the original ETag so
    concurrent rewrites abort rather than splice) plus the new footer
    as the final uploaded part.  ``CompleteMultipartUpload`` swaps
    atomically: readers see the old or the new object, never a torn
    tail.  Objects under the 5 MiB part minimum fall back to
    read-modify-put.  Objects are stamped concurrently on a bounded
    thread pool (network-bound, O(footer) each)."""
    if not (1 <= len(kv)):
        raise ValueError("stamp_kv_s3: empty kv mapping")
    # the trailing-remainder merge can grow the last copy part by up to
    # _MIN_PART, so cap part_size at _MAX_PART - _MIN_PART to keep every
    # part under the 5 GiB UploadPartCopy ceiling by construction
    if not (_MIN_PART <= part_size <= _MAX_PART - _MIN_PART):
        raise ValueError(
            f"part_size must be within [{_MIN_PART}, {_MAX_PART - _MIN_PART}]"
        )
    s3 = client if client is not None else _s3_client()
    _require_conditional_writes(s3)
    bucket, key = _parse_s3_path(path)
    kv_bytes = {k.encode("utf8"): v.encode("utf8") for k, v in kv.items()}

    if key.endswith(".parquet"):
        try:
            s3.head_object(Bucket=bucket, Key=key)
            keys = [key]
        except Exception as exc:
            # only a genuine 404 means "try prefix listing"; swallowing
            # AccessDenied/throttling here would report a successful
            # no-op stamp on real errors
            if _error_code(exc) not in ("404", "NoSuchKey", "NotFound"):
                raise
            keys = []
    else:
        keys = []
    if not keys:
        prefix = key if key.endswith("/") else key + "/"
        paginator = s3.get_paginator("list_objects_v2")
        keys = [
            o["Key"]
            for page in paginator.paginate(Bucket=bucket, Prefix=prefix)
            for o in page.get("Contents", [])
            if o["Key"].endswith(".parquet")
        ]
        if not keys and key.endswith(".parquet"):
            raise FileNotFoundError(f"no such object or prefix: {path}")
    if not keys:
        return 0

    def stamp_one(k: str) -> None:
        head = s3.head_object(Bucket=bucket, Key=k)
        size, etag = head["ContentLength"], head["ETag"]
        # on a versioned bucket, pin EVERYTHING downstream (tail GET,
        # tag fetch, copy sources) to the exact version just headed —
        # a concurrent PUT between the head and any later call then
        # cannot interleave its bytes into the recompose
        vid = head.get("VersionId")
        ver = {"VersionId": vid} if vid else {}
        # the recomposed object must carry the original's object-level
        # metadata — a "footer-only stamp" that silently drops the
        # ContentType, x-amz-meta-* tags, object tags (TagSet), SSE
        # settings, or storage class (or re-encrypts under the bucket
        # default) is a data change, not a stamp.  Non-default ACLs
        # are the documented exception (module docstring): carrying
        # them would demand GetObjectAcl/PutObjectAcl grants.
        carry = {}
        if head.get("ContentType"):
            carry["ContentType"] = head["ContentType"]
        if head.get("Metadata"):
            carry["Metadata"] = head["Metadata"]
        if head.get("ServerSideEncryption"):
            carry["ServerSideEncryption"] = head["ServerSideEncryption"]
        if head.get("SSEKMSKeyId"):
            carry["SSEKMSKeyId"] = head["SSEKMSKeyId"]
        if head.get("StorageClass"):
            carry["StorageClass"] = head["StorageClass"]
        # Tag carry must not GROW the stamp's permission surface for
        # callers that never use tags: a role granting only
        # GetObject/PutObject (no s3:GetObjectTagging) stamped fine
        # before tags were carried, so an AccessDenied on the tag
        # fetch degrades to a loud no-tags-carried warning instead of
        # failing the stamp.  (If the object HAS tags the caller can't
        # read, they are lost — the warning says so; grant the tagging
        # actions to carry them.)
        try:
            tag_set = s3.get_object_tagging(
                Bucket=bucket, Key=k, **ver
            ).get("TagSet", [])
        except Exception as exc:
            if _error_code(exc) not in ("AccessDenied", "403"):
                raise
            import warnings

            warnings.warn(
                f"stamp_kv_s3: s3:GetObjectTagging denied on {k}; "
                "object tags (if any) will NOT be carried through the "
                "stamp — grant GetObjectTagging/PutObjectTagging to "
                "preserve them",
                stacklevel=2,
            )
            tag_set = []
        if tag_set:
            from urllib.parse import urlencode

            carry["Tagging"] = urlencode(
                {t["Key"]: t["Value"] for t in tag_set}
            )
        win = min(size, _TAIL_WINDOW)
        tail = s3.get_object(
            Bucket=bucket,
            Key=k,
            Range=f"bytes={size - win}-{size - 1}",
            **ver,
        )["Body"].read()
        footer = _rebuild_footer(_TailFile(size, tail), kv_bytes)

        if size < _MIN_PART:
            # small object: O(size) read-modify-put IS the cheap path;
            # size < 5 MiB < _TAIL_WINDOW so the ranged GET above was
            # already the whole object.  IfMatch pins the generation
            # the tail was read from (the small-path analog of the
            # multipart CopySourceIfMatch) so a concurrent rewrite
            # fails the stamp instead of being clobbered.
            assert win == size
            s3.put_object(
                Bucket=bucket,
                Key=k,
                Body=tail + footer,
                IfMatch=_bare_etag(etag),
                **carry,
            )
            return

        # UploadPartCopy caps: ≤5 GiB per part and ≤10,000 parts per
        # upload — auto-scale the chunk up for huge objects (S3 objects
        # are ≤5 TiB, so the scaled chunk stays far under the ceiling)
        eff_part = max(part_size, -(-size // 9_999))
        mpu = s3.create_multipart_upload(Bucket=bucket, Key=k, **carry)[
            "UploadId"
        ]
        try:
            parts = []
            part_no = 1
            # server-side copies of the ORIGINAL bytes [0, size).  The
            # footer part follows every copy part, so every copy part
            # must clear the 5 MiB non-last-part minimum: a trailing
            # remainder under the minimum merges into the previous
            # chunk (bounded by part_size + 5 MiB << the 5 GiB copy
            # ceiling).
            bounds = list(range(0, size, eff_part)) + [size]
            if len(bounds) > 2 and bounds[-1] - bounds[-2] < _MIN_PART:
                del bounds[-2]
            for lo, end in zip(bounds, bounds[1:]):
                hi = end - 1
                r = s3.upload_part_copy(
                    Bucket=bucket,
                    Key=k,
                    UploadId=mpu,
                    PartNumber=part_no,
                    CopySource={"Bucket": bucket, "Key": k, **ver},
                    CopySourceRange=f"bytes={lo}-{hi}",
                    CopySourceIfMatch=_bare_etag(etag),
                )
                parts.append(
                    {"PartNumber": part_no, "ETag": r["CopyPartResult"]["ETag"]}
                )
                part_no += 1
            r = s3.upload_part(
                Bucket=bucket,
                Key=k,
                UploadId=mpu,
                PartNumber=part_no,
                Body=io.BytesIO(footer),
            )
            parts.append({"PartNumber": part_no, "ETag": r["ETag"]})
            # conditional complete (S3 conditional writes): the swap
            # itself verifies the live object is still the generation
            # the stamp read — without this, an object rewritten after
            # the last UploadPartCopy would be silently clobbered with
            # old-data+new-footer (the lost-update window)
            s3.complete_multipart_upload(
                Bucket=bucket,
                Key=k,
                UploadId=mpu,
                MultipartUpload={"Parts": parts},
                IfMatch=_bare_etag(etag),
            )
        except BaseException:
            s3.abort_multipart_upload(Bucket=bucket, Key=k, UploadId=mpu)
            raise

    if len(keys) == 1:
        stamp_one(keys[0])
    else:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(stamp_one, keys))
    return len(keys)
