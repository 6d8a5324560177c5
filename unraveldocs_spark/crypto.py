"""AES-256-GCM payload encryption — the at-rest encryption family.

Mirrors the reference's encryption path
(SRC/encryption/impl/AesEncryptionServiceImpl.java:53-112, gated at
SRC/documents/impl/DocumentUploadImpl.java:55-63; flags stored on
SRC/documents/model/FileEntry.java:48-51 as ``isEncrypted`` +
``encryptionIv``):

- algorithm AES/GCM/NoPadding, 256-bit key, 12-byte IV, 128-bit tag
  (SRC/encryption/config/EncryptionProperties.java defaults);
- Java's ``cipher.doFinal`` appends the 16-byte GCM tag to the
  ciphertext — the ``cryptography`` AESGCM primitive uses the identical
  ct||tag layout, so the bytes here are what the reference would store;
- the IV travels base64 next to the payload (FileEntry.encryptionIv),
  the key never does (reference: ENCRYPTION_MASTER_KEY env var).

Determinism: the reference draws IVs from SecureRandom per upload; a
fixture corpus needs byte-stable ciphertexts, so ``derive_iv`` derives
the 12 bytes from (conv_id, turn_idx) instead.  IV uniqueness per
(key, message) — the one property GCM actually requires of the random
IV — still holds, because (conv_id, turn_idx) is the corpus grain.
Production swaps ``derive_iv`` for ``os.urandom(12)``; nothing else
changes.

Encrypted payloads ride the transcript ``text`` column as a JSON
envelope (the repo's payload-family convention, FIXTURES.md §3):

    {"kind": "encrypted", "iv": "<b64>", "data": "<b64 ct||tag>"}

``oracle.extract_turn`` decrypts-then-extracts (the dispatch step that
corresponds to the reference fetching + decrypting stored bytes before
OCR), so the Spark Arrow stage and the pure-Python oracle share the
decryption by construction.
"""

from __future__ import annotations

import base64
import hashlib
import json

from .semantics import md5_56

try:  # not in the documented baked-in set, though present in practice
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    HAVE_AESGCM = True
except ImportError:  # pragma: no cover - environment without cryptography
    AESGCM = None
    HAVE_AESGCM = False

IV_LEN = 12  # EncryptionProperties.java ivLength default
TAG_BITS = 128  # EncryptionProperties.java tagLength default

# 32-byte fixture master key (production: base64 ENCRYPTION_MASTER_KEY).
FIXTURE_MASTER_KEY = hashlib.sha256(b"unraveldocs-spark fixture master key").digest()

# Reference error text: AesEncryptionServiceImpl.java:104-110 wraps any
# cipher failure (bad tag, bad base64, wrong IV) in this message.
ERR_DECRYPT = "Failed to decrypt data"


def _require_aesgcm():
    if not HAVE_AESGCM:
        raise NotImplementedError(
            "AES-GCM needs the 'cryptography' package; the encrypted payload "
            "family is unavailable without it"
        )


def _utf8(text: str) -> bytes:
    return text.encode("utf-8", errors="surrogatepass")


def derive_iv(conv_id: str, turn_idx: int) -> bytes:
    """Deterministic 12-byte IV for fixture corpora (see module doc)."""
    return hashlib.sha256(f"{conv_id}:{turn_idx}:iv".encode()).digest()[:IV_LEN]


def encrypt_bytes(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-256-GCM; returns ct||tag exactly as Java's doFinal emits."""
    _require_aesgcm()
    return AESGCM(key).encrypt(iv, plaintext, None)


def decrypt_bytes(key: bytes, iv: bytes, ct_and_tag: bytes) -> bytes:
    _require_aesgcm()
    return AESGCM(key).decrypt(iv, ct_and_tag, None)


def encrypted_envelope(conv_id: str, turn_idx: int, text: str) -> str:
    """Wrap a turn's plaintext payload as the encrypted JSON envelope."""
    iv = derive_iv(conv_id, turn_idx)
    ct = encrypt_bytes(FIXTURE_MASTER_KEY, iv, _utf8(text))
    return json.dumps(
        {
            "kind": "encrypted",
            "iv": base64.b64encode(iv).decode("ascii"),
            "data": base64.b64encode(ct).decode("ascii"),
        },
        separators=(",", ":"),
    )


ENC_RATE_PCT = 60  # fixture corpora: fraction of turns uploaded encrypted


def should_encrypt(conv_id: str, turn_idx: int, text: str | None) -> bool:
    """Deterministic md5-keyed draw (no RNG state, engine-independent)
    deciding which turns of a fixture corpus carry encrypted payloads —
    the per-upload ``enableEncryption`` flag of the reference
    (DocumentUploadService.java:20)."""
    if text is None:
        return False
    h = int(hashlib.md5(f"{conv_id}:{turn_idx}:enc".encode()).hexdigest()[:8], 16)
    return h % 100 < ENC_RATE_PCT


def encrypt_turn(
    conv_id: str, turn_idx: int, text: str | None
) -> tuple[str | None, int, str | None]:
    """(text_out, is_encrypted, iv_b64) for one turn — the upload-side
    transform.  Non-selected turns pass through untouched."""
    if not should_encrypt(conv_id, turn_idx, text):
        return text, 0, None
    env = encrypted_envelope(conv_id, turn_idx, text)
    iv_b64 = base64.b64encode(derive_iv(conv_id, turn_idx)).decode("ascii")
    return env, 1, iv_b64


def decrypt_envelope_fields(iv_b64: str | None, data_b64: str | None) -> str:
    """Base64-decode + decrypt an envelope's fields back to the payload
    text.  Any failure (missing field, bad base64, GCM tag mismatch)
    raises ValueError with the reference's decrypt-failure message."""
    try:
        if not iv_b64 or not data_b64:
            raise ValueError("missing iv/data")
        iv = base64.b64decode(iv_b64, validate=True)
        ct = base64.b64decode(data_b64, validate=True)
        pt = decrypt_bytes(FIXTURE_MASTER_KEY, iv, ct)
        return pt.decode("utf-8", errors="surrogatepass")
    except NotImplementedError:
        raise
    except Exception as e:
        raise ValueError(f"{ERR_DECRYPT}: {e.__class__.__name__}") from e


def roundtrip_row(conv_id: str, turn_idx: int, role: str, text: str | None,
                  tool: str | None) -> tuple:
    """One turn of the encrypt -> decrypt -> extract roundtrip check,
    shared by the Spark Arrow stage (entry_queries.q_encrypted_roundtrip)
    and its sequential VALUES oracle: (conv_id, turn_idx, is_encrypted,
    iv_b64, status, rule, error_message, text_digest, match_plain), the
    digest being the md5-56 of the extracted text and ``match_plain``
    comparing it with the plaintext turn's extraction."""
    from .oracle import extract_turn

    def digest(r):
        return None if r.extracted_text is None else md5_56(_utf8(r.extracted_text))

    enc_text, is_enc, iv_b64 = encrypt_turn(conv_id, turn_idx, text)
    r_enc = extract_turn(role, tool, enc_text)
    dg = digest(r_enc)
    match_plain = int(dg == digest(extract_turn(role, tool, text)))
    return (
        conv_id, turn_idx, is_enc, iv_b64, r_enc.status, r_enc.rule,
        r_enc.error_message, dg, match_plain,
    )


def export_shard_row(conv_id: str, n_turns: int, payload: str) -> tuple:
    """One conversation's encrypted-export manifest row, shared by the
    Spark Arrow stage (entry_queries.q_encrypted_export) and its VALUES
    oracle: the payload encrypted under a conversation-derived IV, as
    (conv_id, n_turns, pt_bytes, pt_digest, iv_b64, ct_digest,
    roundtrip_ok) with md5-56 digests."""
    pt = _utf8(payload)
    iv = derive_iv("shard:" + conv_id, 0)
    ct = encrypt_bytes(FIXTURE_MASTER_KEY, iv, pt)
    return (
        conv_id, n_turns, len(pt), md5_56(pt),
        base64.b64encode(iv).decode("ascii"), md5_56(ct),
        int(decrypt_bytes(FIXTURE_MASTER_KEY, iv, ct) == pt),
    )
