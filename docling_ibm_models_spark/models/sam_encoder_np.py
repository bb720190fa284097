"""M7 code/formula VLM vision tower — the SAM ViT image encoder — as REAL
vectorized numpy (reference: docling_ibm_models/code_formula_model/models/
sam.py:30-473, the reference-authored/adapted ViTDet-style graph: PatchEmbed,
windowed + global attention blocks with DECOMPOSED RELATIVE POSITION
embeddings, LayerNorm2d neck, and the Vary-toy net_2/net_3 downsampling
tail). The OPT language side (sam_opt.py) wraps a HuggingFace model and
remains environment-blocked; this module ports every reference-owned
numeric of the vision tower.

Weight dict layout (one entry per reference module, numpy float64):
  patch_w (E,C,kh,kw), patch_b (E), pos_embed (1,H,W,E) or None,
  blocks: [{ln1_w/b, qkv_w (3E,E), qkv_b, proj_w (E,E), proj_b,
            rel_pos_h (2S-1,hd), rel_pos_w, ln2_w/b,
            mlp1_w (M,E), mlp1_b, mlp2_w (E,M), mlp2_b, window (int)}],
  neck1_w (O,E,1,1), neck_ln1_w/b (O), neck2_w (O,O,3,3), neck_ln2_w/b,
  net2_w (512,256,3,3), net3_w (1024,512,3,3)
"""

from __future__ import annotations

import math

import numpy as np

from docling_ibm_models_spark.models.bbox_decoder_np import conv2d

_erf = np.vectorize(math.erf)


def gelu(x: np.ndarray) -> np.ndarray:
    """torch.nn.GELU default (exact erf form)."""
    return 0.5 * x * (1.0 + _erf(x / math.sqrt(2.0)))


def _layer_norm(x: np.ndarray, w: np.ndarray, b: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    """nn.LayerNorm over the last dim; SAM builds with eps=1e-6
    (sam.py:497 partial(torch.nn.LayerNorm, eps=1e-6))."""
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps) * w + b


def layer_norm_2d(x_nchw: np.ndarray, w: np.ndarray, b: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    """sam.py:48-60 LayerNorm2d: normalize over the CHANNEL dim of NCHW."""
    u = x_nchw.mean(axis=1, keepdims=True)
    s = ((x_nchw - u) ** 2).mean(axis=1, keepdims=True)
    x = (x_nchw - u) / np.sqrt(s + eps)
    return w[:, None, None] * x + b[:, None, None]


def window_partition(x: np.ndarray, ws: int) -> tuple[np.ndarray, tuple[int, int]]:
    """sam.py:516-532: pad bottom/right to a window multiple, tile."""
    B, H, W, C = x.shape
    pad_h = (ws - H % ws) % ws
    pad_w = (ws - W % ws) % ws
    if pad_h or pad_w:
        x = np.pad(x, ((0, 0), (0, pad_h), (0, pad_w), (0, 0)))
    Hp, Wp = H + pad_h, W + pad_w
    x = x.reshape(B, Hp // ws, ws, Wp // ws, ws, C)
    windows = x.transpose(0, 1, 3, 2, 4, 5).reshape(-1, ws, ws, C)
    return windows, (Hp, Wp)


def window_unpartition(windows: np.ndarray, ws: int, pad_hw: tuple[int, int], hw: tuple[int, int]) -> np.ndarray:
    """sam.py:535-562: inverse tiling, crop the padding."""
    Hp, Wp = pad_hw
    H, W = hw
    B = windows.shape[0] // (Hp * Wp // ws // ws)
    x = windows.reshape(B, Hp // ws, Wp // ws, ws, ws, -1)
    x = x.transpose(0, 1, 3, 2, 4, 5).reshape(B, Hp, Wp, -1)
    return x[:, :H, :W, :]


def get_rel_pos(q_size: int, k_size: int, rel_pos: np.ndarray) -> np.ndarray:
    """sam.py:565-594 exact-size path. The linear-interpolation branch only
    fires when the stored table length differs from 2*max(q,k)-1 — never
    the case for tables built for their own input_size (every SAM build);
    guarded explicitly rather than silently approximated."""
    max_rel_dist = int(2 * max(q_size, k_size) - 1)
    if rel_pos.shape[0] != max_rel_dist:
        raise NotImplementedError(
            "rel_pos interpolation (sam.py:580-588) is only reachable with "
            "a checkpoint trained at a different resolution"
        )
    q_coords = np.arange(q_size)[:, None] * max(k_size / q_size, 1.0)
    k_coords = np.arange(k_size)[None, :] * max(q_size / k_size, 1.0)
    rel = (q_coords - k_coords) + (k_size - 1) * max(q_size / k_size, 1.0)
    return rel_pos[rel.astype(np.int64)]


def add_decomposed_rel_pos(attn, q, rel_pos_h, rel_pos_w, q_size, k_size):
    """sam.py:597-636: MViTv2 decomposed relative positions added to the
    attention logits via two einsum contractions."""
    q_h, q_w = q_size
    k_h, k_w = k_size
    Rh = get_rel_pos(q_h, k_h, rel_pos_h)
    Rw = get_rel_pos(q_w, k_w, rel_pos_w)
    B, _, dim = q.shape
    r_q = q.reshape(B, q_h, q_w, dim)
    rel_h = np.einsum("bhwc,hkc->bhwk", r_q, Rh)
    rel_w = np.einsum("bhwc,wkc->bhwk", r_q, Rw)
    attn = (
        attn.reshape(B, q_h, q_w, k_h, k_w)
        + rel_h[:, :, :, :, None]
        + rel_w[:, :, :, None, :]
    ).reshape(B, q_h * q_w, k_h * k_w)
    return attn


def attention(x: np.ndarray, bw: dict, num_heads: int) -> np.ndarray:
    """sam.py:283-311 Attention.forward over (B, H, W, C) tokens: packed
    qkv, per-head (head_dim)^-0.5 scaling applied to q BEFORE the matmul,
    decomposed rel-pos logits, row softmax, projection."""
    B, H, W, C = x.shape
    hd = C // num_heads
    scale = hd ** -0.5
    qkv = x.reshape(B, H * W, C) @ bw["qkv_w"].T + bw["qkv_b"]
    qkv = qkv.reshape(B, H * W, 3, num_heads, hd).transpose(2, 0, 3, 1, 4)
    q, k, v = qkv.reshape(3, B * num_heads, H * W, hd)
    attn = (q * scale) @ k.transpose(0, 2, 1)
    attn = add_decomposed_rel_pos(attn, q, bw["rel_pos_h"], bw["rel_pos_w"], (H, W), (H, W))
    attn -= attn.max(axis=-1, keepdims=True)
    e = np.exp(attn)
    attn = e / e.sum(axis=-1, keepdims=True)
    out = (attn @ v).reshape(B, num_heads, H, W, hd).transpose(0, 2, 3, 1, 4).reshape(B, H, W, C)
    return out @ bw["proj_w"].T + bw["proj_b"]


def block_forward(x: np.ndarray, bw: dict, num_heads: int) -> np.ndarray:
    """sam.py:222-238 Block.forward: pre-norm attention with optional
    window partition, residual, pre-norm GELU MLP, residual."""
    shortcut = x
    x = _layer_norm(x, bw["ln1_w"], bw["ln1_b"])
    ws = bw["window"]
    if ws > 0:
        H, W = x.shape[1], x.shape[2]
        x, pad_hw = window_partition(x, ws)
    x = attention(x, bw, num_heads)
    if ws > 0:
        x = window_unpartition(x, ws, pad_hw, (H, W))
    x = shortcut + x
    mlp = gelu(_layer_norm(x, bw["ln2_w"], bw["ln2_b"]) @ bw["mlp1_w"].T + bw["mlp1_b"])
    return x + (mlp @ bw["mlp2_w"].T + bw["mlp2_b"])


def _patch_conv(x_nchw: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Non-overlapping conv (stride == kernel, pad 0) as ONE matmul: the
    16x16 patch embed dominated encode() wall under the generic per-kernel-
    position loop (256 slice iterations). Returns NHWC. Same sums as the
    generic conv, associativity differences ~1e-13 relative (parity budget
    1e-10)."""
    N, C, H, W = x_nchw.shape
    E, _, kh, kw = w.shape
    gh, gw = H // kh, W // kw
    blocks = (
        x_nchw.reshape(N, C, gh, kh, gw, kw)
        .transpose(0, 2, 4, 1, 3, 5)
        .reshape(N, gh * gw, C * kh * kw)
    )
    return (blocks @ w.reshape(E, -1).T).reshape(N, gh, gw, E)


def _conv1x1(x_nchw: np.ndarray, w: np.ndarray) -> np.ndarray:
    """1x1 conv as a channel matmul (NCHW in/out)."""
    N, C, H, W = x_nchw.shape
    out = np.tensordot(w[:, :, 0, 0], x_nchw, axes=([1], [1]))  # (O, N, H, W)
    return out.transpose(1, 0, 2, 3)


def sam_encoder_forward(w: dict, x_nchw: np.ndarray, num_heads: int) -> np.ndarray:
    """sam.py:158-171 ImageEncoderViT.forward: patch embed (conv stride =
    kernel = patch) → +abs pos → blocks → neck (1x1 conv, LayerNorm2d, 3x3
    conv, LayerNorm2d) → net_2/net_3 stride-2 downsampling (the Vary-toy
    tail). Returns NCHW features."""
    x = _patch_conv(x_nchw, w["patch_w"]) + w["patch_b"]  # B H W C
    if w.get("pos_embed") is not None:
        x = x + w["pos_embed"]
    for bw in w["blocks"]:
        x = block_forward(x, bw, num_heads)
    x = x.transpose(0, 3, 1, 2)
    x = _conv1x1(x, w["neck1_w"])
    x = layer_norm_2d(x, w["neck_ln1_w"], w["neck_ln1_b"])
    x = conv2d(x, w["neck2_w"], stride=1, padding=1)
    x = layer_norm_2d(x, w["neck_ln2_w"], w["neck_ln2_b"])
    x = conv2d(x, w["net2_w"], stride=2, padding=1)
    return conv2d(x, w["net3_w"], stride=2, padding=1)


def synthetic_sam_weights(
    seed: int = 97,
    img_size: int = 64,
    patch_size: int = 16,
    in_chans: int = 3,
    embed_dim: int = 64,
    depth: int = 4,
    num_heads: int = 4,
    mlp_ratio: float = 2.0,
    out_chans: int = 256,
    window_size: int = 3,
    global_attn_indexes: tuple = (1, 3),
) -> dict:
    """Seeded stand-in for the SAM-B checkpoint (sam.py:476-513 build shape:
    rel-pos on, abs-pos on, windowed blocks except global_attn_indexes;
    out_chans is 256 because the Vary-toy net_2 tail hardcodes 256→512→1024,
    sam.py:154-157). Dims are scaled down; the graph is the reference's."""
    rng = np.random.default_rng(seed)
    grid = img_size // patch_size
    hd = embed_dim // num_heads
    mlp_dim = int(embed_dim * mlp_ratio)
    s = 1.0 / math.sqrt(embed_dim)

    def lin(o, i, sc=None):
        return rng.normal(0.0, sc if sc is not None else 1.0 / math.sqrt(i), (o, i))

    blocks = []
    for i in range(depth):
        ws = 0 if i in global_attn_indexes else window_size
        sp = ws if ws > 0 else grid
        blocks.append(
            {
                "window": ws,
                "ln1_w": rng.uniform(0.8, 1.2, embed_dim),
                "ln1_b": rng.normal(0.0, 0.02, embed_dim),
                "qkv_w": lin(3 * embed_dim, embed_dim),
                "qkv_b": rng.normal(0.0, 0.01, 3 * embed_dim),
                "proj_w": lin(embed_dim, embed_dim),
                "proj_b": rng.normal(0.0, 0.01, embed_dim),
                "rel_pos_h": rng.normal(0.0, 0.1, (2 * sp - 1, hd)),
                "rel_pos_w": rng.normal(0.0, 0.1, (2 * sp - 1, hd)),
                "ln2_w": rng.uniform(0.8, 1.2, embed_dim),
                "ln2_b": rng.normal(0.0, 0.02, embed_dim),
                "mlp1_w": lin(mlp_dim, embed_dim),
                "mlp1_b": rng.normal(0.0, 0.01, mlp_dim),
                "mlp2_w": lin(embed_dim, mlp_dim),
                "mlp2_b": rng.normal(0.0, 0.01, embed_dim),
            }
        )
    k2 = 1.0 / math.sqrt(9 * 256)
    return {
        "patch_w": rng.normal(0.0, 1.0 / math.sqrt(in_chans * patch_size**2),
                              (embed_dim, in_chans, patch_size, patch_size)),
        "patch_b": rng.normal(0.0, 0.01, embed_dim),
        "pos_embed": rng.normal(0.0, 0.02, (1, grid, grid, embed_dim)),
        "blocks": blocks,
        "neck1_w": rng.normal(0.0, s, (out_chans, embed_dim, 1, 1)),
        "neck_ln1_w": rng.uniform(0.8, 1.2, out_chans),
        "neck_ln1_b": rng.normal(0.0, 0.02, out_chans),
        "neck2_w": rng.normal(0.0, 1.0 / math.sqrt(9 * out_chans), (out_chans, out_chans, 3, 3)),
        "neck_ln2_w": rng.uniform(0.8, 1.2, out_chans),
        "neck_ln2_b": rng.normal(0.0, 0.02, out_chans),
        "net2_w": rng.normal(0.0, k2, (512, 256, 3, 3)),
        "net3_w": rng.normal(0.0, 1.0 / math.sqrt(9 * 512), (1024, 512, 3, 3)),
    }
