package graft.scale

import org.scalatest.funsuite.AnyFunSuite

/** Golden bytes for the JPEG family. The ImageIO laws elsewhere compare
  * pixels within ±1, so a one-level drift in the DCT, the entropy coder or
  * the scan script would pass them; these SHA-256 constants pin every
  * encoder's exact output on a fixed grid and the exact decoded pixels of
  * ImageIO-written foreign files (baseline, optimized Huffman, 4:2:0 color,
  * progressive color). A deliberate codec change re-captures them.
  */
class JpegGoldenSpec extends AnyFunSuite {
  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def gray(seed: Int, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    // smooth ramp plus noise: long zero runs and large coefficients both occur
    Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 2 + rnd.nextInt(48)).toByte)
  }
  private def rgb(seed: Int, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(3 * w * h) { i =>
      val p = i / 3
      ((p % w) * (i % 3 + 1) + (p / w) * 2 + rnd.nextInt(40)).toByte
    }
  }
  private val quants = Seq("std" -> Multimodal.JpegStdQuant, "flat" -> Multimodal.JpegFlatQuant8)

  /** name -> encoder output, over the fixed grid. */
  private def encoded: Seq[(String, Array[Byte])] = {
    val grayBase = for ((w, h) <- Seq((64, 64), (50, 34), (8, 8)); (qn, q) <- quants)
      yield s"gray-base-$w x $h-$qn" -> Multimodal.jpegEncodeGray(gray(w + h, w, h), w, h, q)
    val grayProg = for ((w, h, qn, q) <- Seq((64, 64, "std", Multimodal.JpegStdQuant),
        (50, 34, "flat", Multimodal.JpegFlatQuant8));
      approx <- Seq(false, true); bands <- Seq(false, true))
      yield s"gray-prog-$w x $h-$qn-approx=$approx-bands=$bands" ->
        Multimodal.jpegEncodeGrayProgressiveKnobs(gray(w * h, w, h), w, h, q, approx, bands)
    val color = for ((w, h) <- Seq((32, 32), (64, 48)); (qn, q) <- quants; prog <- Seq(false, true))
      yield {
        val src = rgb(w + h, w, h)
        val enc = if (prog) Multimodal.jpegEncodeColorProgressive(src, w, h, q, q)
          else Multimodal.jpegEncodeColor420(src, w, h, q, q)
        s"color-${if (prog) "prog" else "420"}-$w x $h-$qn" -> enc
      }
    grayBase ++ grayProg ++ color
  }

  private def imageIo(img: java.awt.image.BufferedImage,
                      tune: javax.imageio.plugins.jpeg.JPEGImageWriteParam => Unit): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam.asInstanceOf[javax.imageio.plugins.jpeg.JPEGImageWriteParam]
    tune(param)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }
  private def grayImage(seed: Int, w: Int, h: Int) = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(seed)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    img
  }
  private def colorImage(w: Int, h: Int) = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (((x * 8 + y * 3) % 256) << 16) | ((x * 5 + y * 7) % 256 << 8) | ((x + y * 9) % 256))
    img
  }

  /** name -> decoded pixels (w, h prefixed), foreign files and our own. */
  private def decoded: Seq[(String, Option[(Int, Int, Array[Byte])])] = {
    val foreign = Seq(
      "imageio-gray-base" -> (true, imageIo(grayImage(7, 19, 11), _ => ())),
      "imageio-gray-optimized" -> (true, imageIo(grayImage(11, 32, 8), _.setOptimizeHuffmanTables(true))),
      "imageio-color-420" -> (false, imageIo(colorImage(32, 32), _ => ())),
      "imageio-color-prog" -> (false, imageIo(colorImage(32, 32),
        _.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT))))
    val own = encoded.map { case (n, b) => n -> ((n.startsWith("gray"), b)) }
    (foreign ++ own).map { case (n, (isGray, b)) =>
      s"decode:$n" -> (if (isGray) Multimodal.jpegDecodeGray(b) else Multimodal.jpegDecodeColor(b))
    }
  }

  // captured from the codec before the decoders and encoders were unified
  private val Golden: Map[String, String] = Map(
    "gray-base-64 x 64-std" -> "0a89c1f219fe6c47cb281d5900621c1afc3d5cd2f37e9e2553e9930aa60b7268",
    "gray-base-64 x 64-flat" -> "41049093d44dba8e21fd9b92a2a6cd29aee64ea7ff45c104667353d1417ae042",
    "gray-base-50 x 34-std" -> "92c2742bb9c8c1abb5361b6b138e24f2667c87490fdc765987f1c5f28a23deac",
    "gray-base-50 x 34-flat" -> "7d7b07eb5d3fb0e686c2112da6f6bdd3047a312c1d9d0670648e4d353e71540f",
    "gray-base-8 x 8-std" -> "83808cbf69df58166f089ee7096aec76c4aa6f4b8e25203566dc0b5c952d914a",
    "gray-base-8 x 8-flat" -> "246a1184c5914f1863bc5f98150854a48b6b60d7fc7111070b9bcc39293d12d7",
    "gray-prog-64 x 64-std-approx=false-bands=false" -> "6e54429fca8bcd4f000b78445ef32d9e0832f1b149b1bc428514efa51dcfe425",
    "gray-prog-64 x 64-std-approx=false-bands=true" -> "7ca7e00022795c843e3ce9f87f67bd0f5b0be334def7757ee31c629fe8b939d7",
    "gray-prog-64 x 64-std-approx=true-bands=false" -> "f4c7cf0190881e56f396b2d1f4d19a12f3a348a5e15f3655a442c86794aa1651",
    "gray-prog-64 x 64-std-approx=true-bands=true" -> "8a477c4eb2ef41cd73fbbe54f3b5802a18b1d1a7b11de54860bd8a173ef384c0",
    "gray-prog-50 x 34-flat-approx=false-bands=false" -> "5d3b599341468177089a49e5d5e929ce33bb56611b53dd013a6a7c4be59e7195",
    "gray-prog-50 x 34-flat-approx=false-bands=true" -> "c3d65202c68d030fa503b791242da08d81338bf04ef2206708164a4b4be9de94",
    "gray-prog-50 x 34-flat-approx=true-bands=false" -> "1285618b8d95a060975624018d8b1cd4ceceb1f4a84a0ed89ef7912d543787b4",
    "gray-prog-50 x 34-flat-approx=true-bands=true" -> "f2524c808c2c90fba6050cee32bef352cda186eb6a44156d878b59b872b36478",
    "color-420-32 x 32-std" -> "4b1d5730d93e001a2f1cb7b9789fa86e4763c2c15f5bbc8f1fe9d2b6af034eab",
    "color-prog-32 x 32-std" -> "1c3f11480b02f5fe40b6ce81638fa033a6d7b52fad53aa83851e7b8956f5e1fe",
    "color-420-32 x 32-flat" -> "48c153e0530676785cce5db7dbd5f49a45b303f49f9c5ce74d46de937e1601f4",
    "color-prog-32 x 32-flat" -> "8b4dffc4d806c44044d2bf3ac2a23b999c30403b3ef9d26ef9e28c23cb4b800b",
    "color-420-64 x 48-std" -> "23c1aa227500090e47dc8cc6e00f1b22ffe5c01fc84d30e44317287917308ec2",
    "color-prog-64 x 48-std" -> "e00d982af1b0e994fab2e8b11dc4148b08f00ef3de281ede1bb3e94f344cb41f",
    "color-420-64 x 48-flat" -> "5d6b1b0ac4e087e9fb04741ac4cbf89192ef186f4c126dfeeb45642accc7e9f8",
    "color-prog-64 x 48-flat" -> "57efeee46df9e4e28a99bc1dc1b958fbd4b0c3ae15baa2912dd84f615cd29e54",
    "decode:imageio-gray-base" -> "4b4596e0e9ac3b55399f05d68553261829bc5fbdf5245879d5f954230ba17ed9",
    "decode:imageio-gray-optimized" -> "f2adbec2945afa3aedd156aedb866eb65e0f6be30f05d5c9628771e14592264d",
    "decode:imageio-color-420" -> "a00fa547338b6bbef08d4fcff21c240917e1abe160bd2255f9bdd53c7e36321b",
    "decode:imageio-color-prog" -> "a00fa547338b6bbef08d4fcff21c240917e1abe160bd2255f9bdd53c7e36321b",
    "decode:gray-base-64 x 64-std" -> "61e2d6f25751952d6014d94fa1aadff13ea3c1af213bef19692fc81e0a314d4e",
    "decode:gray-base-64 x 64-flat" -> "50e022c21077fe94d097f3386011ed8f80cc872d5905d23b5d38b9a31b3d171e",
    "decode:gray-base-50 x 34-std" -> "eca7a739e84f80cdfe8538b1b984e3bb3298b03b33c64507c8c1f1c2e7177407",
    "decode:gray-base-50 x 34-flat" -> "6cd4a4ace58bd5116c01b63fb1672fe0fce74432e6262675c6fd04f83112c8a1",
    "decode:gray-base-8 x 8-std" -> "cda726cdf584f5e53d7d8b7698b26dbde4949ea04cbe2c296442e27dc899f317",
    "decode:gray-base-8 x 8-flat" -> "6e835209cadc06ea5e513c0f96b337f31a126925dbe8be9dab4f579ad41ea263",
    "decode:gray-prog-64 x 64-std-approx=false-bands=false" -> "94071dee95611e8314223bb85c0ae62e16d4c84d8c4d017a0df3f3a3627b7a52",
    "decode:gray-prog-64 x 64-std-approx=false-bands=true" -> "94071dee95611e8314223bb85c0ae62e16d4c84d8c4d017a0df3f3a3627b7a52",
    "decode:gray-prog-64 x 64-std-approx=true-bands=false" -> "94071dee95611e8314223bb85c0ae62e16d4c84d8c4d017a0df3f3a3627b7a52",
    "decode:gray-prog-64 x 64-std-approx=true-bands=true" -> "94071dee95611e8314223bb85c0ae62e16d4c84d8c4d017a0df3f3a3627b7a52",
    "decode:gray-prog-50 x 34-flat-approx=false-bands=false" -> "62529966a353757b16aa37549086273d4453fffd5f7203e879422b62a6840415",
    "decode:gray-prog-50 x 34-flat-approx=false-bands=true" -> "62529966a353757b16aa37549086273d4453fffd5f7203e879422b62a6840415",
    "decode:gray-prog-50 x 34-flat-approx=true-bands=false" -> "62529966a353757b16aa37549086273d4453fffd5f7203e879422b62a6840415",
    "decode:gray-prog-50 x 34-flat-approx=true-bands=true" -> "62529966a353757b16aa37549086273d4453fffd5f7203e879422b62a6840415",
    "decode:color-420-32 x 32-std" -> "b57657cda6686f6cd5e0ecc5c50a87a190e3c9b217b9ddb690146007179af450",
    "decode:color-prog-32 x 32-std" -> "b57657cda6686f6cd5e0ecc5c50a87a190e3c9b217b9ddb690146007179af450",
    "decode:color-420-32 x 32-flat" -> "111cfb24d0d71846aaad88d0ded9ff5c021f31bac1c15652fa5ecb7e765c050e",
    "decode:color-prog-32 x 32-flat" -> "111cfb24d0d71846aaad88d0ded9ff5c021f31bac1c15652fa5ecb7e765c050e",
    "decode:color-420-64 x 48-std" -> "f5f4593df4db270e5401fb3925f9c2bbf7198032293343cf66a2b7f71fb68e56",
    "decode:color-prog-64 x 48-std" -> "f5f4593df4db270e5401fb3925f9c2bbf7198032293343cf66a2b7f71fb68e56",
    "decode:color-420-64 x 48-flat" -> "3b5014ee7f072186a8158d402371ecacf6becab3b83090074e00801a9500f796",
    "decode:color-prog-64 x 48-flat" -> "3b5014ee7f072186a8158d402371ecacf6becab3b83090074e00801a9500f796")

  private def check(actual: Seq[(String, String)]): Unit = {
    val bad = actual.collect { case (n, h) if !Golden.get(n).contains(h) => s"\"$n\" -> \"$h\"" }
    assert(bad.isEmpty, bad.mkString("\n", ",\n", ""))
  }

  test("every JPEG encoder emits its golden bytes on the fixed grid") {
    check(encoded.map { case (n, b) => n -> sha(b) })
  }

  test("decoded pixels of foreign and own JPEGs are golden") {
    check(decoded.map { case (n, d) =>
      assert(d.isDefined, s"$n did not decode")
      val (w, h, px) = d.get
      n -> sha(s"$w,$h:".getBytes("US-ASCII") ++ px)
    })
  }
}
