"""Vault Transit REST wire protocol: client, transport, conformance fake.

The reference's Vault path (``VaultClientImpl.java:29-107`` under
``VaultService.java:42-61``) speaks HashiCorp Vault's Transit batch API.
This module reproduces those WIRE SEMANTICS exactly — so a future real
HTTP client is a five-line ``http`` callable, and the conformance pack
(tests/test_vault_transit.py + tests/fixtures/vault_transit/) pins the
byte-level request/response contract the reference implements:

- batch requests: ``{"batch_input": [...]}`` posted to
  ``transit/encrypt/<key>`` / ``transit/decrypt/<key>``; items carry
  ``plaintext``/``ciphertext`` plus OPTIONAL ``context`` (base64) and
  ``key_version`` — optional fields are OMITTED when absent, never null
  (``VaultClientImpl.java:31-39``);
- response ordering: ``data.batch_results[i]`` corresponds to
  ``batch_input[i]`` — the service zips results back to fields by
  position (``VaultService.java:53-58``);
- an EMPTY batch issues NO request at all and returns ``[]``
  (``VaultClientImpl.java:57-59``);
- per-item ``{"error": ...}`` objects fail the WHOLE batch as a client
  error (``VaultClientImpl.java:86-88``);
- malformed 2xx bodies (missing ``batch_results``, non-object items,
  missing output field) are server errors — "Unexpected vault response"
  (``VaultClientImpl.java:77-79,83-85,91-93``);
- HTTP 4xx is a client/data error, anything else (5xx) a retriable
  server error (``VaultClientImpl.java:100-106``); a transport-layer
  exception (connection refused — the ``VaultException`` catch) maps to
  a CLIENT error, "Failed to access Vault"
  (``VaultClientImpl.java:66-68``).

:class:`VaultTransitTransport` adapts the client to the engine's
:class:`~cdcrypt.kms.KmsTransport` seam (envelope mode: DEKs from
``transit/datakey/plaintext/<key>``, unwrap via ``transit/decrypt``,
asymmetric public keys from ``transit/keys/<key>``).
:class:`FakeVaultTransitServer` is the in-process conformance double —
real AES-GCM under per-key-name server-side keys, Vault-shaped
``vault:v1:<b64>`` ciphertexts, request recording for wire assertions,
and scriptable faults for the O10 retry-routing end-to-end test. No
network anywhere; a production deployment replaces only the ``http``
callable.
"""

from __future__ import annotations

import base64
import functools
import hashlib
import hmac
import json
import math
import os
from dataclasses import dataclass

from cdcrypt.errors import ClientErrorException, ServerErrorException

__all__ = [
    "EncryptItem",
    "DecryptItem",
    "VaultTransitClient",
    "VaultTransitTransport",
    "FakeVaultTransitServer",
]


@dataclass(frozen=True)
class EncryptItem:
    """One ``batch_input`` element for ``transit/encrypt`` — mirrors
    ``EncryptParameter.java`` (plaintext is already base64; context and
    key_version are optional and omitted from the wire when absent)."""

    plaintext_b64: str
    context_b64: str | None = None
    key_version: int | None = None

    def wire(self) -> dict:
        obj: dict = {"plaintext": self.plaintext_b64}
        if self.context_b64 is not None:
            obj["context"] = self.context_b64
        if self.key_version is not None:
            obj["key_version"] = self.key_version
        return obj


@dataclass(frozen=True)
class DecryptItem:
    """One ``batch_input`` element for ``transit/decrypt`` — mirrors
    ``DecryptParameter.java``."""

    ciphertext: str
    context_b64: str | None = None

    def wire(self) -> dict:
        obj: dict = {"ciphertext": self.ciphertext}
        if self.context_b64 is not None:
            obj["context"] = self.context_b64
        return obj


class VaultTransitClient:
    """The reference's Vault client semantics over an injectable
    ``http(method, path, body) -> (status, body_dict)`` callable.

    ``http`` raising ANY exception is treated as the reference treats
    ``VaultException``: a client error, "Failed to access Vault"
    (``VaultClientImpl.java:66-68``). Status/body handling follows
    ``batchRequest`` (``VaultClientImpl.java:55-107``) exactly — see the
    module docstring for the rule-by-rule mapping."""

    def __init__(self, http):
        self._http = http

    # -- public API mirroring VaultClient.java

    def encrypt(self, key_name: str, items: list[EncryptItem]) -> list[str]:
        return self._batch_request(
            f"transit/encrypt/{key_name}",
            [i.wire() for i in items], "ciphertext")

    def decrypt(self, key_name: str, items: list[DecryptItem]) -> list[str]:
        return self._batch_request(
            f"transit/decrypt/{key_name}",
            [i.wire() for i in items], "plaintext")

    # -- single (non-batch) ops used by the KmsTransport adaptation

    def request(self, method: str, path: str, body: dict | None) -> dict:
        """One non-batch call with the same status split and transport-
        exception mapping as the batch path. Returns the response body."""
        status, rbody = self._call(method, path, body)
        if status // 100 == 2:
            return rbody
        self._raise_for_status(status, rbody)

    # -- internals

    def _call(self, method: str, path: str, body: dict | None):
        try:
            return self._http(method, path, body)
        except Exception as e:  # noqa: BLE001 — the VaultException catch
            raise ClientErrorException(f"Failed to access Vault: {e}") from e

    @staticmethod
    def _raise_for_status(status: int, body) -> None:
        msg = f"Vault respond error: status={status}, {json.dumps(body)}"
        if status // 100 == 4:
            raise ClientErrorException(msg)
        raise ServerErrorException(msg)

    def _batch_request(self, path: str, batch_input: list[dict],
                       out_field: str) -> list[str]:
        if not batch_input:
            return []  # no request at all — VaultClientImpl.java:57-59
        status, body = self._call("POST", path,
                                  {"batch_input": batch_input})
        if status // 100 == 2:
            results = (body.get("data") or {}).get("batch_results")
            if not isinstance(results, list):
                raise ServerErrorException(
                    f"Unexpected vault response: {json.dumps(body)}")
            out: list[str] = []
            for r in results:
                if not isinstance(r, dict):
                    raise ServerErrorException(
                        f"Unexpected vault response: {json.dumps(body)}")
                if r.get("error") is not None:
                    # one bad item fails the WHOLE batch as a data error
                    raise ClientErrorException(
                        f"Vault respond error: {r['error']}")
                val = r.get(out_field)
                if val is None:
                    raise ServerErrorException(
                        f"Unexpected vault response: {json.dumps(body)}")
                out.append(val)
            return out
        self._raise_for_status(status, body)


class VaultTransitTransport:
    """:class:`~cdcrypt.kms.KmsTransport` over the Transit REST surface.

    Envelope mode maps onto Vault's data-key endpoint: ONE
    ``transit/datakey/plaintext/<key>`` call per Arrow batch yields the
    plaintext DEK plus its Vault-wrapped form (the ``vault:v1:...``
    string, stored as the envelope's wrapped-DEK bytes); decrypt issues
    ONE ``transit/decrypt`` per distinct wrapped DEK per executor (the
    caller's cache, C10 economics). Deterministic/convergent DEKs are
    NOT derivable over the Transit wire (convergence is server-side in
    Vault) — requesting one raises a typed client error rather than
    silently downgrading the security mode. Instances hold only the
    ``http`` callable and key names, so they pickle into UDF closures."""

    def __init__(self, http):
        self._client = VaultTransitClient(http)

    def generate_data_key(self, key_id, context=None):
        body = {}
        ctx = _context_b64(context)
        if ctx is not None:
            body["context"] = ctx
        r = self._client.request(
            "POST", f"transit/datakey/plaintext/{key_id}", body)
        data = r.get("data") or {}
        pt, ct = data.get("plaintext"), data.get("ciphertext")
        if pt is None or ct is None:
            raise ServerErrorException(
                f"Unexpected vault response: {json.dumps(r)}")
        return base64.b64decode(pt), ct.encode("ascii")

    def wrap(self, dek, key_id, context=None):
        [ct] = self._client.encrypt(key_id, [EncryptItem(
            base64.b64encode(dek).decode("ascii"), _context_b64(context))])
        return ct.encode("ascii")

    def unwrap(self, wrapped, key_id, context=None):
        [pt] = self._client.decrypt(key_id, [DecryptItem(
            wrapped.decode("ascii"), _context_b64(context))])
        return base64.b64decode(pt)

    def derive_deterministic_dek(self, key_id, context=None):
        raise ClientErrorException(
            "deterministic DEKs are not derivable over the Vault Transit "
            "wire (convergent encryption is server-side) — use the "
            "randomized envelope mode with this transport, or a KMS "
            "whose API exposes key derivation")

    def fetch_public_pem(self, key_id):
        r = self._client.request("GET", f"transit/keys/{key_id}", None)
        data = r.get("data") or {}
        latest = str(data.get("latest_version", 1))
        pem = ((data.get("keys") or {}).get(latest) or {}).get("public_key")
        if pem is None:
            raise ServerErrorException(
                f"Unexpected vault response: {json.dumps(r)}")
        return pem.encode("ascii")

    def asym_unwrap(self, wrapped, key_id):
        [pt] = self._client.decrypt(key_id, [DecryptItem(
            "vault:v1:" + base64.b64encode(wrapped).decode("ascii"))])
        return base64.b64decode(pt)

    def revoke(self, key_id, context=None):
        if context:
            raise ClientErrorException(
                "Vault Transit revokes whole keys, not per-context "
                "derivations — shred per-context data under a context-"
                "specific key name, or use the in-process transport")
        self._client.request("POST", f"transit/keys/{key_id}/config",
                             {"deletion_allowed": True})
        self._client.request("DELETE", f"transit/keys/{key_id}", None)


def _context_b64(context: dict[str, str] | None) -> str | None:
    """Vault binds ONE base64 context blob per item; canonicalize the
    engine's dict context the same way the in-process transport does
    (sorted k/v pairs) so both transports agree on context identity."""
    if not context:
        return None
    blob = "\x1f".join(
        f"{k}\x1e{context[k]}" for k in sorted(context)).encode("utf-8")
    return base64.b64encode(blob).decode("ascii")


def _probable_prime(rng, bits: int) -> int:
    """A ``bits``-bit probable prime from ``rng`` (trial division, then
    Fermat to four bases), with the top two bits set so that two of them
    make a 2*bits-bit modulus."""
    small = math.prod(p for p in range(3, 2000)
                      if all(p % q for q in range(2, p)))
    while True:
        n = rng.getrandbits(bits) | (3 << (bits - 2)) | 1
        if math.gcd(n, small) == 1 and all(
                pow(a, n - 1, n) == 1 for a in (2, 3, 5, 7)):
            return n


@functools.lru_cache(maxsize=None)
def _fake_rsa_pems(name: str) -> tuple[bytes, bytes]:
    """(public, private) PEM of the fake's RSA-2048 key ``name``, derived
    from the name alone: every process holding a pickled fake derives
    the same pair, as it does the symmetric keys. Test double only."""
    import random

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    rng = random.Random(hashlib.sha256(
        b"fake-vault-transit-rsa-v1" + name.encode("utf-8")).digest())
    e = 65537
    while True:
        p, q = _probable_prime(rng, 1024), _probable_prime(rng, 1024)
        if p != q and math.gcd(e, (p - 1) * (q - 1)) == 1:
            break
    d = pow(e, -1, (p - 1) * (q - 1))
    key = rsa.RSAPrivateNumbers(
        p, q, d, rsa.rsa_crt_dmp1(d, p), rsa.rsa_crt_dmq1(d, q),
        rsa.rsa_crt_iqmp(p, q), rsa.RSAPublicNumbers(e, p * q)
    ).private_key()
    priv = key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption())
    pub = key.public_key().public_bytes(
        serialization.Encoding.PEM,
        serialization.PublicFormat.SubjectPublicKeyInfo)
    return pub, priv


class FakeVaultTransitServer:
    """In-process conformance double for the Transit REST surface.

    Real crypto (AES-256-GCM under per-key-name server-side keys, and an
    RSA-2048 pair per key name, all derived deterministically from the
    name, so any executor process the instance pickles into can serve
    decrypts of either kind), Vault-shaped ``vault:v1:<b64>`` ciphertexts,
    context enforced as AAD (wrong context -> per-item ``error`` object,
    exactly what a derived-key Transit mount returns). Every request is
    recorded as ``(method, path, body)`` for wire-shape assertions.

    Fault scripting: ``fail_marker`` injects ONE 503 across all
    processes (marker file, same pattern as ``FaultInjectingTransport``)
    for the O10 epoch-replay test; ``force_status`` pins every response
    to a fixed (status, body) for the status-split tests."""

    def __init__(self, fail_marker: str | None = None):
        self.requests: list[tuple[str, str, dict | None]] = []
        self.fail_marker = fail_marker
        self.force_status: tuple[int, dict] | None = None
        self._deleted: set[str] = set()

    # -- the injectable callable

    def http(self, method: str, path: str, body: dict | None):
        self.requests.append((method, path, body))
        if self.force_status is not None:
            return self.force_status
        if self.fail_marker is not None and not os.path.exists(
                self.fail_marker):
            with open(self.fail_marker, "w") as f:
                f.write("tripped")
            return 503, {"errors": ["internal error (injected)"]}
        parts = path.split("/")
        if parts[0] != "transit":
            return 404, {"errors": ["unsupported mount"]}
        if parts[1] in ("encrypt", "decrypt") and method == "POST":
            return self._batch(parts[1], parts[2], body)
        if parts[1] == "datakey" and method == "POST":
            return self._datakey(parts[3], body)
        if parts[1] == "keys" and method == "GET":
            return self._read_key(parts[2])
        if parts[1] == "keys" and len(parts) == 4 and method == "POST":
            return 204, {}
        if parts[1] == "keys" and method == "DELETE":
            self._deleted.add(parts[2])
            return 204, {}
        return 404, {"errors": [f"unsupported route {method} {path}"]}

    # -- crypto

    def _key(self, name: str) -> bytes:
        return hmac.new(b"fake-vault-transit-server-v1",
                        name.encode("utf-8"), hashlib.sha256).digest()

    def _seal(self, name: str, pt: bytes, aad: bytes) -> str:
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM
        nonce = os.urandom(12)
        ct = AESGCM(self._key(name)).encrypt(nonce, pt, aad)
        return "vault:v1:" + base64.b64encode(nonce + ct).decode("ascii")

    def _open(self, name: str, token: str, aad: bytes) -> bytes:
        from cryptography.exceptions import InvalidTag
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM
        if not token.startswith("vault:v1:"):
            raise ValueError("invalid ciphertext: no vault:v1: prefix")
        raw = base64.b64decode(token[len("vault:v1:"):])
        try:
            return AESGCM(self._key(name)).decrypt(raw[:12], raw[12:], aad)
        except InvalidTag:
            if len(raw) != 256:
                raise ValueError("invalid ciphertext") from None
        # an RSA-2048 key's OAEP ciphertext is 256 bytes and fails the AES
        # tag check; the key type comes from the token, not from state
        return self._asym_open(name, raw)

    # -- routes

    def _check_key(self, name: str):
        if name in self._deleted:
            return 400, {"errors": [f"no such key: {name}"]}
        return None

    def _batch(self, op: str, name: str, body: dict | None):
        gone = self._check_key(name)
        if gone:
            return gone
        items = (body or {}).get("batch_input")
        if not isinstance(items, list):
            return 400, {"errors": ["missing batch_input"]}
        results = []
        for it in items:
            aad = base64.b64decode(it.get("context", "") or "")
            try:
                if op == "encrypt":
                    pt = base64.b64decode(it["plaintext"])
                    results.append(
                        {"ciphertext": self._seal(name, pt, aad),
                         "key_version": 1})
                else:
                    pt = self._open(name, it["ciphertext"], aad)
                    results.append(
                        {"plaintext":
                         base64.b64encode(pt).decode("ascii")})
            except (KeyError, ValueError) as e:
                # Vault's per-item failure shape: an error OBJECT in the
                # result slot (the client fails the whole batch on it)
                results.append({"error": str(e) or "invalid request"})
        return 200, {"data": {"batch_results": results}}

    def _datakey(self, name: str, body: dict | None):
        gone = self._check_key(name)
        if gone:
            return gone
        aad = base64.b64decode((body or {}).get("context", "") or "")
        dek = os.urandom(32)
        return 200, {"data": {
            "plaintext": base64.b64encode(dek).decode("ascii"),
            "ciphertext": self._seal(name, dek, aad),
        }}

    # -- asymmetric (rsa-2048 transit keys)

    def _asym_open(self, name: str, raw: bytes) -> bytes:
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import padding
        priv = serialization.load_pem_private_key(
            _fake_rsa_pems(name)[1], password=None)
        try:
            return priv.decrypt(raw, padding.OAEP(
                mgf=padding.MGF1(hashes.SHA256()),
                algorithm=hashes.SHA256(), label=None))
        except ValueError:
            raise ValueError("invalid ciphertext") from None

    def _read_key(self, name: str):
        gone = self._check_key(name)
        if gone:
            return gone
        pub, _priv = _fake_rsa_pems(name)
        return 200, {"data": {
            "type": "rsa-2048",
            "latest_version": 1,
            "keys": {"1": {"public_key": pub.decode("ascii")}},
        }}
