"""Resource layer — driver-side input fetching with conditional-fetch
caching.

Parity target: reference impuls/resource.py (776 LoC): ``LocalResource``
(mtime check), ``HTTPResource`` (ETag / If-Modified-Since conditional
GET/POST), ``TimeLimitedResource`` (rate-limit wrapper),
``ZippedResource`` (unwrap one file from a zip), all cached into a
workspace directory with a sidecar ``.metadata`` JSON carrying
``last_modified`` / ``fetch_time`` / ``etag`` fingerprints. When no
resource changed, the pipeline short-circuits with ``InputNotModified``
(reference resource.py:656-694, errors.py:9-13).

This layer is deliberately Spark-free: files land in the workspace on
the driver, then executors read them via ``spark.read.*``. At cluster
scale the workspace should live on shared storage (the design is
path-agnostic).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.request
import zipfile
from dataclasses import dataclass, field


@dataclass
class FetchResult:
    path: str
    changed: bool
    last_modified: float | None = None


class Resource:
    """Base: subclasses implement ``fetch(target_path, metadata) ->
    (changed, new_metadata)``."""

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        raise NotImplementedError


def _atomic_write(target: str, writer) -> None:
    """Stream into ``target + '.part'`` and ``os.replace`` on success, so
    a mid-transfer failure can never leave a truncated file at ``target``
    (where a later conditional-fetch short-circuit would serve it as
    valid). ``writer(fh)`` receives the open temp file."""
    tmp = target + ".part"
    try:
        with open(tmp, "wb") as fh:
            writer(fh)
        os.replace(tmp, target)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


@dataclass
class LocalResource(Resource):
    """A file on the driver's filesystem; change detection by mtime
    (reference resource.py:184-241)."""

    path: str

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        mtime = os.stat(self.path).st_mtime
        if metadata.get("mtime") == mtime and os.path.exists(target):
            return False, metadata
        with open(self.path, "rb") as src:
            _atomic_write(target, lambda fh: shutil.copyfileobj(src, fh))
        return True, {"mtime": mtime, "fetch_time": time.time()}


@dataclass
class HTTPResource(Resource):
    """Conditional HTTP fetch with ETag / If-Modified-Since (reference
    resource.py:244-351)."""

    url: str
    method: str = "GET"
    data: bytes | None = None
    headers: dict = field(default_factory=dict)

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        req_headers = dict(self.headers)
        if os.path.exists(target):
            if metadata.get("etag"):
                req_headers["If-None-Match"] = metadata["etag"]
            if metadata.get("last_modified_http"):
                req_headers["If-Modified-Since"] = metadata["last_modified_http"]
        req = urllib.request.Request(
            self.url, data=self.data, headers=req_headers, method=self.method
        )
        try:
            with urllib.request.urlopen(req) as resp:
                _atomic_write(target, lambda fh: shutil.copyfileobj(resp, fh))
                new_meta = {
                    "etag": resp.headers.get("ETag"),
                    "last_modified_http": resp.headers.get("Last-Modified"),
                    "fetch_time": time.time(),
                }
                return True, new_meta
        except urllib.error.HTTPError as e:
            if e.code == 304:
                return False, metadata
            raise


@dataclass
class URLResource(Resource):
    """Unconditional fetch of any urllib-supported scheme (ftp://,
    file://, ...). For mtime-conditional FTP fetching use
    :class:`FTPResource`; wrap in :class:`TimeLimitedResource` to bound
    refetch frequency for schemes with no conditional protocol."""

    url: str

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        with urllib.request.urlopen(self.url) as resp:
            _atomic_write(target, lambda fh: shutil.copyfileobj(resp, fh))
        return True, {"fetch_time": time.time()}


@dataclass
class FTPResource(Resource):
    """Conditional FTP fetch keyed on the server's ``MDTM`` timestamp
    (the reference example pipelines' FTP resources:
    examples/pkpic/ftp_resource.py:41-63, examples/warsaw/ztm_ftp.py:37-53
    — connect, read the file's modification time, short-circuit when it
    is not newer than the cached copy's, else stream the body).

    ``tls`` switches to FTPS with ``prot_p`` (pkpic); ``trust_pasv_host``
    ignores the IP in the PASV reply and reuses the control-connection
    host (pkpic's PatchedFTP workaround for servers behind NAT that
    advertise internal addresses).
    """

    host: str
    filename: str
    username: str = ""
    password: str = ""
    tls: bool = False
    trust_pasv_host: bool = False

    def _connect(self):
        """Returns a connected, logged-in ftplib client. Override to
        customize the session (the reference subclasses FTP the same
        way)."""
        import ftplib

        base = ftplib.FTP_TLS if self.tls else ftplib.FTP
        if self.trust_pasv_host:
            class _Patched(base):  # type: ignore[misc,valid-type]
                def makepasv(self):
                    _, port = super().makepasv()
                    return self.host, port
            cls = _Patched
        else:
            cls = base
        ftp = cls(self.host)
        if self.username:
            ftp.login(self.username, self.password)
        else:
            ftp.login()
        if self.tls:
            ftp.prot_p()
        return ftp

    @staticmethod
    def _parse_mdtm(resp: str) -> str:
        """``213 YYYYMMDDHHMMSS[.sss]`` -> the timestamp string
        (reference parse_ftp_mod_time; kept as a string — only equality/
        ordering against the cached value matters)."""
        stamp = resp.partition(" ")[2].strip()
        if len(stamp) < 14:
            raise ValueError(f"invalid FTP MDTM response: {resp!r}")
        return stamp[:14]

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        ftp = self._connect()
        try:
            mtime = self._parse_mdtm(ftp.voidcmd(f"MDTM {self.filename}"))
            cached = metadata.get("ftp_mtime")
            if cached is not None and mtime <= cached and os.path.exists(target):
                return False, metadata
            _atomic_write(
                target,
                lambda fh: ftp.retrbinary(f"RETR {self.filename}", fh.write),
            )
            return True, {"ftp_mtime": mtime, "fetch_time": time.time()}
        finally:
            try:
                ftp.quit()
            except Exception:
                ftp.close()


@dataclass
class TimeLimitedResource(Resource):
    """Skip re-fetching until ``min_age_seconds`` since the last fetch
    (reference resource.py:354-377)."""

    inner: Resource
    min_age_seconds: float = 3600.0

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        last = metadata.get("fetch_time")
        if last is not None and time.time() - last < self.min_age_seconds and os.path.exists(target):
            return False, metadata
        return self.inner.fetch(target, metadata)


@dataclass
class ZippedResource(Resource):
    """Unwrap one file from a zip fetched by ``inner`` (reference
    resource.py:380-446). ``file_in_zip=None`` picks the only file."""

    inner: Resource
    file_in_zip: str | None = None

    def fetch(self, target: str, metadata: dict) -> tuple[bool, dict]:
        zip_target = target + ".zip"
        changed, meta = self.inner.fetch(zip_target, metadata)
        if not changed and os.path.exists(target):
            return False, meta
        with zipfile.ZipFile(zip_target) as zf:
            names = [n for n in zf.namelist() if not n.endswith("/")]
            name = self.file_in_zip or (names[0] if len(names) == 1 else None)
            if name is None:
                raise ValueError(f"ZippedResource: ambiguous zip contents {names}")
            with zf.open(name) as src:
                _atomic_write(target, lambda fh: shutil.copyfileobj(src, fh))
        return True, meta


def _metadata_path(target: str) -> str:
    return target + ".metadata"


def prepare_resources(
    resources: dict[str, Resource],
    workspace: str,
    *,
    from_cache: bool = False,
) -> tuple[dict[str, FetchResult], bool]:
    """Fetch every named resource into ``workspace`` with sidecar
    metadata; returns (name -> FetchResult, any_changed). With
    ``from_cache`` nothing is fetched — cached files are used as-is
    (reference options.py from_cache)."""
    os.makedirs(workspace, exist_ok=True)
    out: dict[str, FetchResult] = {}
    any_changed = False
    for name, res in resources.items():
        target = os.path.join(workspace, name)
        meta_path = _metadata_path(target)
        metadata: dict = {}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                metadata = json.load(fh)
        if from_cache:
            if not os.path.exists(target):
                raise FileNotFoundError(f"from_cache: {target} not cached")
            out[name] = FetchResult(target, changed=False)
            continue
        changed, new_meta = res.fetch(target, metadata)
        if changed:
            any_changed = True
            with open(meta_path, "w") as fh:
                json.dump(new_meta, fh)
        out[name] = FetchResult(target, changed=changed,
                                last_modified=new_meta.get("mtime"))
    return out, any_changed


def managed_read_text(path: str, encoding: str = "utf-8") -> str:
    with open(path, encoding=encoding) as fh:
        return fh.read()


def managed_read_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def managed_read_csv(path: str) -> list[dict]:
    import csv

    with open(path, newline="", encoding="utf-8-sig") as fh:
        return list(csv.DictReader(fh))


def managed_read_yaml(path: str, encoding: str = "utf-8"):
    """YAML-deserialize a fetched resource via ``yaml.safe_load``
    (parity: reference resource.py:543 ``ManagedResource.yaml``).

    PyYAML is an optional dependency — imported lazily so environments
    without it only fail when a pipeline actually reads YAML config.
    """
    try:
        import yaml
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "managed_read_yaml requires PyYAML (pip install pyyaml)"
        ) from exc
    with open(path, encoding=encoding) as fh:
        return yaml.safe_load(fh)
