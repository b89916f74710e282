"""Tile-encoder parameter synthesis — the reference's gdal_translate
argument matrix (args_Callback, OptimizeRasters.py:3875-3999;
args_Callback_for_meta :4002-4075) re-expressed as a typed parameter
STRUCT instead of a CLI argv list.

Matrix semantics (derived, not copied):
  * mode 'tif*' -> format GTiff, BIGTIFF=YES, TILED=YES,
    BLOCKXSIZE/BLOCKYSIZE; 'cog' keeps the COG driver (no TILED).
  * mode 'mrf*' -> format MRF, single BLOCKSIZE key.
  * compound modes 'x_y' split into (output, compression); '_cog' flips
    the COG flag instead ('tif_cog').
  * jpeg: quality (default 85 — DefJpegQuality :97), YCbCr photometric
    for multi-band pixel-interleaved non-COG, jpeg12 -> NBITS=12 then
    compression becomes jpeg.
  * lerc/lerc2: OPTIONS string 'LERC_PREC=<p>' and/or 'V2=ON'
    (lerc2 AND plain lerc get V2=ON; COMPRESS emits 'lerc' for both).
  * deflate/lzw pixel-interleaved: predictor (default 1).
  * meta/proxy variant: MRF + NOCOPY=True + UNIFORM_SCALE (default 2).

The struct is computed per-row with when/otherwise columns so a single
table can carry mixed codecs (e.g., imagery tiles jpeg, masks lerc) and
the encode stage (a pandas UDF in a real deployment) reads its parameters
from the row — no driver-side argv assembly, no per-file subprocess.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, functions as F

from optimizerasters_spark.config import Config, get_boolean_value
from optimizerasters_spark.tiling import BLOCK_SIZE

DEF_JPEG_QUALITY = 85  # DefJpegQuality, OptimizeRasters.py:97


# Proxy-only modes: no GDAL conversion; pyramids off; raster proxies are
# the output (createaOverview early-return :5069-5072; is_caching
# :6407-6413).
PROXY_MODES = frozenset(("cachingmrf", "clonemrf", "rasterproxy",
                         "splitmrf"))
# Maker modes: dedicated builders, not the generic translate matrix
# (BundleMaker.CMODE :5193, IIQMaker.CMODE :7348, '.aid' job inputs).
MAKER_MODES = frozenset(("bundle", "iiq", "aid"))
# Product profiles selected by the mode's second token: the reference
# ships template configs pinning these (DG_SatelliteProduct_to_MRF_LERC,
# Landsat_to_MRF_LERC; Landsat8_RasterProxy.xml pins Scale=3).
PRODUCT_PROFILES = {
    "dg": {"compression": "lerc"},
    "landsat": {"compression": "lerc", "meta_scale": 3},
    "mix": {},  # per-row codecs — encoder_struct_col carries them
}
COMPRESSION_TOKENS = frozenset(("jpeg", "jpeg12", "lzw", "deflate",
                                "lerc", "lerc2", "png"))


@dataclass
class EncoderParams:
    """Driver-side resolved parameters (one job-wide default row)."""
    mode: str = "mrf"                # validated full mode string
    out_format: str = "MRF"          # GTiff | MRF | COG
    compression: str = "lerc"
    quality: int = DEF_JPEG_QUALITY
    block_size: int = BLOCK_SIZE
    interleave: str = "PIXEL"
    predictor: int = 1
    lerc_prec: str | None = None
    nbits12: bool = False
    bigtiff: bool = False
    tiled: bool = False
    ycbcr: bool = False
    options: str = ""
    scale: int = 2                   # UNIFORM_SCALE (meta variant)
    nocopy: bool = False
    pyramids: bool = True            # proxy modes skip overview builds
    clone_source: bool = False       # UpdateMRF sets clone='true' (:1643)
    maker: str | None = None         # bundle | iiq | aid
    data_ext: str | None = None      # splitmrf+lerc: .lrc/.idx split
    index_ext: str | None = None
    # GDAL_Translate_UserParameters: raw argv passthrough ahead of the
    # synthesized matrix (the reference splits them into args before it
    # adds -of/-co, :3891-3894; values "passed on without any
    # modification" per every template's comment; Grid_to_COG_LZW pins
    # "-stats")
    user_params: str = ""

    def creation_options(self) -> dict[str, str]:
        """The -co key/value surface (for parity inspection/tests).
        Gating mirrors args_Callback (OptimizeRasters.py:3875-3999):
        jpeg quality key is QUALITY for MRF and COG, JPEG_QUALITY for
        GTiff (:3975-3981); the predictor / NBITS / YCBCR block is
        NESTED inside the tif/cog branch there (:3958-3981), so MRF
        outputs never emit them — only GTiff/COG do, and predictor
        additionally requires PIXEL interleave."""
        co: dict[str, str] = {}
        comp = "lerc" if self.compression == "lerc2" else self.compression
        co["COMPRESS"] = comp
        if self.bigtiff:
            co["BIGTIFF"] = "YES"
        if self.tiled:
            co["TILED"] = "YES"
        is_tif_family = self.out_format in ("GTiff", "COG")
        if comp == "jpeg":
            key = "JPEG_QUALITY" if self.out_format == "GTiff" else "QUALITY"
            co[key] = str(self.quality)
            if is_tif_family and self.nbits12:
                co["NBITS"] = "12"
            if is_tif_family and self.ycbcr:
                co["PHOTOMETRIC"] = "YCBCR"
        if is_tif_family and self.compression in ("deflate", "lzw") and \
                self.interleave == "PIXEL":
            co["predictor"] = str(self.predictor)
        if self.options:
            co["OPTIONS"] = self.options
        if self.out_format == "GTiff":
            co["BLOCKXSIZE"] = str(self.block_size)
            co["BLOCKYSIZE"] = str(self.block_size)
        else:
            co["BLOCKSIZE"] = str(self.block_size)
        if self.out_format != "COG":
            co["INTERLEAVE"] = self.interleave
        if self.nocopy:
            co["NOCOPY"] = "True"
        return co

    def argv(self) -> list[str]:
        """The assembled gdal_translate-style argument vector — the
        reference's args_Callback return shape: user params FIRST
        (GDAL_Translate_UserParameters lands in argv before -of/-co,
        OptimizeRasters.py:3891-3894, whitespace-collapsing .split()),
        then ['-of', fmt, '-co', 'K=V', ...]. The engine itself
        consumes the struct; this is the parity surface for anything
        that still shells out."""
        out = self.user_params.split() if self.user_params else []
        out += ["-of", self.out_format]
        for k, v in self.creation_options().items():
            out += ["-co", f"{k}={v}"]
        return out


def resolve(conf: Config, n_bands: int = 3, meta: bool = False
            ) -> EncoderParams:
    """Config -> EncoderParams across the full 19-mode whitelist
    (OptimizeRasters.py:5533-5553), reproducing args_Callback's
    resolution order:

      * the separate ``cog`` CONFIG key (useCOGTIFF :3897) forces
        deflate BEFORE the mode split; mode ``*_cog`` selects the COG
        driver but keeps the configured compression (:3927-3931) —
        ``tif_cog`` + Compression=jpeg emits QUALITY= under COG.
      * second-token compressions (lzw/jpeg/...) override Compression;
        product tokens (dg/landsat/mix) select template profiles
        instead (MRF+LERC; Landsat proxies Scale=3).
      * proxy modes never convert (pyramids off, NOCOPY proxies);
        ``splitmrf`` + lerc splits DataFile/IndexFile into .lrc/.idx;
        mrf-family sources are clone-marked (:1643-1647).
      * maker modes (bundle/iiq/aid) dispatch to dedicated builders and
        emit MRF."""
    p = EncoderParams()
    full_mode = conf.validate_mode()
    p.mode = full_mode
    comp = str(conf.get_value("Compression", "lerc")).lower()
    if get_boolean_value(conf.get_value("cog", False)):
        comp = "deflate"  # useCOGTIFF — the only deflate force (:3897-3900)
    mode = full_mode
    is_cog = False
    meta_scale_default = 2
    parts = full_mode.split("_")
    if len(parts) > 1:
        mode = parts[0]
        token = parts[1]
        if token == "cog":
            is_cog = True
        elif token in PRODUCT_PROFILES:
            prof = PRODUCT_PROFILES[token]
            comp = prof.get("compression", comp)
            meta_scale_default = prof.get("meta_scale", 2)
        elif token in COMPRESSION_TOKENS:
            comp = token
    q = conf.get_value("Quality")
    p.quality = int(q) if q else DEF_JPEG_QUALITY
    bs = conf.get_value("BlockSize")
    p.block_size = int(bs) if bs else BLOCK_SIZE
    p.predictor = int(conf.get_value("Predictor", 1))
    p.interleave = str(conf.get_value("Interleave", "PIXEL")).upper()
    p.lerc_prec = conf.get_value("LERCPrecision")
    p.user_params = str(conf.get_value("GDAL_Translate_UserParameters",
                                       "") or "")
    # BuildPyramids template knob (createaOverview gate :5060-5072);
    # proxy modes force it off below regardless
    p.pyramids = get_boolean_value(conf.get_value("BuildPyramids", True))

    if full_mode in PROXY_MODES:
        p.out_format = "MRF"
        p.pyramids = False           # createaOverview early-return
        p.nocopy = True              # proxies reference, never copy
        if full_mode == "splitmrf" and comp.startswith("lerc"):
            p.data_ext, p.index_ext = ".lrc", ".idx"  # extensions_lup
    elif full_mode in MAKER_MODES:
        p.out_format = "MRF"
        p.maker = full_mode
    elif mode.startswith(("tif", "cog")):
        p.bigtiff = True
        if not is_cog:
            p.tiled = True
            p.out_format = "GTiff"
        else:
            p.out_format = "COG"
        if p.interleave == "PIXEL" and comp.startswith("jpeg"):
            if n_bands != 1 and not is_cog:
                p.ycbcr = True
            if comp == "jpeg12":
                p.nbits12 = True
            comp = "jpeg"
    else:
        p.out_format = "MRF"
    p.clone_source = mode.startswith("mrf") or full_mode == "clonemrf"
    if meta:
        p.out_format = "MRF"
        p.nocopy = True
        sc = conf.get_value("Scale")
        p.scale = int(sc) if sc else meta_scale_default
        if get_boolean_value(conf.get_value("isuniformscale", True)) is False:
            p.scale = 1
    if comp.startswith("lerc"):
        opts = []
        if p.lerc_prec:
            opts.append(f"LERC_PREC={p.lerc_prec}")
        if comp in ("lerc", "lerc2"):
            opts.append("V2=ON")
        p.options = " ".join(opts)
    p.compression = comp
    return p


def encoder_struct_col(mode: Column, compression: Column,
                       quality: Column, block_size: Column) -> Column:
    """Per-row codec struct for mixed-codec tile tables: the column twin
    of resolve() for the fields that vary per tile."""
    parts = F.split(F.lower(mode), "_")
    base = F.get(parts, 0)
    second = F.get(parts, 1)
    is_cog = second == "cog"
    # mode *_cog keeps the configured compression (only the separate cog
    # config key forces deflate — resolve() handles that job-wide);
    # dg/landsat product tokens pin lerc per the reference templates
    comp = (F.when(second.isin(*sorted(COMPRESSION_TOKENS)), second)
             .when(second.isin("dg", "landsat"), F.lit("lerc"))
             .otherwise(F.lower(compression)))
    comp = F.when(comp.startswith("jpeg"), F.lit("jpeg")).otherwise(comp)
    out_format = (F.when(is_cog, F.lit("COG"))
                   .when(base.startswith("tif"), F.lit("GTiff"))
                   .otherwise(F.lit("MRF")))
    return F.struct(
        out_format.alias("out_format"),
        comp.alias("compression"),
        F.coalesce(quality, F.lit(DEF_JPEG_QUALITY)).cast("int")
         .alias("quality"),
        F.coalesce(block_size, F.lit(BLOCK_SIZE)).cast("int")
         .alias("block_size"),
        (F.when(comp == "lerc", F.lit("V2=ON")).otherwise(F.lit("")))
         .alias("options"))
